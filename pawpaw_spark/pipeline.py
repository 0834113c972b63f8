"""End-to-end KG build: source table -> segments -> triples -> linked &
canonicalized node/edge tables, checkpoint-resumable with lineage.

This is the spark-submit entry surface (jobs/build_kg.py wraps it).
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pawpaw_spark.lineage import LineageLog, bucket_key, run_stage, stage_fingerprints
from pawpaw_spark.operators.canon import canonicalize_nodes, rewrite_edges_canonical
from pawpaw_spark.operators.linking import link_symbols
from pawpaw_spark.operators.segment import check_sha256_invariant, with_sha256
from pawpaw_spark.operators.triples import build_edges, build_nodes, segment_by_lang
from pawpaw_spark.storage import has_data, iceberg_catalog, read_parquet, write_partitioned


def build_kg(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    link_threshold: float = 0.82,
    edges_mode: str = "fused",
    analytics: bool = False,
    pagerank_iters: int = 5,
) -> dict[str, DataFrame]:
    """Returns {'segments', 'edges', 'nodes', 'edges_canonical'} and,
    with ``analytics=True``, a ``'node_metrics'`` table
    (node, out_deg, in_deg, rank, comp) over the canonical symbol
    call graph — degrees, fixed-iteration PageRank, and component
    labels, checkpoint-resumable like the canon stage.

    Resume: rerunning with the same out_dir skips completed buckets
    (their lineage rows); changed input rows invalidate exactly their
    bucket via the per-bucket fingerprint.

    ``edges_mode``:

    * ``'fused'`` (default) — edges come from the one-pass mapInArrow
      kernel over the SOURCE rows (multiset-equal to the relational
      derivation, tests/test_triples_pr.py). Costs a second content
      scan but zero segment-table shuffles; measured 74 s -> ~15 s for
      the edges stage at 100k files (the four branch re-reads plus two
      self-joins over 5.4M segment rows cost more than re-running the
      regex kernel).
    * ``'relational'`` — derive edges from the materialized segments
      table (single content scan total). The right choice when content
      bytes dominate segment rows — e.g. few, huge documents.
    """
    lineage = LineageLog(out_dir)

    if "sha256" not in source.columns:
        source = with_sha256(source)
    bad = check_sha256_invariant(source)
    if bad:
        raise ValueError(f"sha256 invariant violated on {bad} input rows")

    src_b = source.withColumn("bucket", bucket_key(F.col("repo"), n_buckets))

    # ONE fingerprint pass shared by every stage (each is a full read of
    # the source content — at 100 TB, repeating it per stage would double
    # the scan bill); also keyed into the canon-stage checkpoint below
    fps = stage_fingerprints(src_b).cache()
    fp_rows = fps.collect()
    canon_fp = hashlib.sha256(
        repr(sorted((r["bucket"], r["fp"], r["rows_in"]) for r in fp_rows)).encode()
    ).hexdigest()[:24] + f":{link_threshold}:{n_buckets}"

    segments = run_stage(
        spark,
        "segments",
        src_b,
        lambda df: segment_by_lang(df, passthrough=("bucket",)),
        out_dir,
        lineage,
        fps=fps,
    )

    doc_bucket = src_b.select(
        F.concat_ws("@", F.concat_ws("/", "repo", "path"), "commit").alias("doc_id"),
        "bucket",
    )

    def edges_transform(df):
        if edges_mode == "fused":
            from pawpaw_spark.operators.triples import build_edges_fused

            e = build_edges_fused(df.drop("bucket"))
        else:
            # consume the already-materialized segments of the pending buckets
            pending_segs = segments.join(df.select("bucket").distinct(), "bucket")
            e = build_edges(df.drop("bucket"), segments=pending_segs.drop("bucket"))
        # doc_bucket is one row per source file: ~60x smaller than the
        # edge set but NOT broadcastable at 10^12 files — let AQE pick
        # (it broadcasts at small scale, sort-merges on doc_id at large)
        return e.join(doc_bucket, "doc_id")

    edges = run_stage(spark, "edges", src_b, edges_transform, out_dir, lineage, fps=fps)

    nodes_out = f"{out_dir}/nodes"
    edges_out = f"{out_dir}/edges_canonical"

    # canon is a GLOBAL stage (connected components can't be bucket-local),
    # so its checkpoint is a single fingerprint derived from the per-bucket
    # source fingerprints + the linking parameters: unchanged input =>
    # skip linking + union-find entirely and reuse the written tables
    canon_done = lineage.completed(spark, "canon")
    cat = iceberg_catalog(spark)
    if cat is not None:
        outputs_exist = spark.catalog.tableExists(
            f"{cat}.pawpaw.nodes"
        ) and spark.catalog.tableExists(f"{cat}.pawpaw.edges_canonical")
    else:
        # probe for committed data: part files or partition directories
        # (edges_canonical's pred=, or the salt= of a store written
        # before the global tables dropped their salt directories)
        outputs_exist = has_data(spark, nodes_out) and has_data(spark, edges_out)
    if ("__global__", canon_fp) in canon_done and outputs_exist:
        if cat is not None:
            nodes_canon = spark.table(f"{cat}.pawpaw.nodes")
            edges_canon = spark.table(f"{cat}.pawpaw.edges_canonical")
        else:
            nodes_canon = spark.read.parquet(nodes_out)
            edges_canon = read_parquet(spark, edges_out, ("pred",))
    else:
        t0 = time.time()
        match_edges = link_symbols(segments, threshold=link_threshold)
        nodes = build_nodes(edges)
        nodes_canon = canonicalize_nodes(nodes, match_edges)
        # rewrite edges against the WRITTEN node table — joining the
        # unwritten plan would re-run union-find + node distinct a second
        # time (measured 46s of pure recompute at 20k files)
        nodes_canon = write_partitioned(nodes_canon, "pawpaw.nodes", nodes_out, ())
        edges_canon = write_partitioned(
            rewrite_edges_canonical(edges, nodes_canon).withColumn(
                "salt", bucket_key(F.col("subj"), 64)
            ),
            "pawpaw.edges_canonical",
            edges_out,
            ("pred",),
        )
        lineage.record(
            spark,
            [
                {
                    "stage": "canon",
                    "partition_key": "__global__",
                    "input_fingerprint": canon_fp,
                    "rows_in": int(sum(r["rows_in"] for r in fp_rows)),
                    "rows_out": int(edges_canon.count()),
                    "wall_ms": int((time.time() - t0) * 1000),
                    "status": "ok",
                }
            ],
        )

    result = {
        "segments": segments,
        "edges": edges,
        "nodes": nodes_canon,
        "edges_canonical": edges_canon,
    }

    if analytics:
        # global stage over the canonical edges; its checkpoint key is
        # the canon fingerprint + its own parameters, so an unchanged
        # graph (and unchanged iters) skips the whole computation
        metrics_out = f"{out_dir}/node_metrics"
        metrics_fp = f"{canon_fp}:pr{pagerank_iters}"
        analytics_done = lineage.completed(spark, "analytics")
        if cat is not None:
            metrics_exist = spark.catalog.tableExists(f"{cat}.pawpaw.node_metrics")
        else:
            metrics_exist = has_data(spark, metrics_out)
        if ("__global__", metrics_fp) in analytics_done and metrics_exist:
            if cat is not None:
                metrics = spark.table(f"{cat}.pawpaw.node_metrics")
            else:
                metrics = spark.read.parquet(metrics_out)
        else:
            from pawpaw_spark.operators.graph import kg_node_metrics

            t0 = time.time()
            metrics = kg_node_metrics(edges_canon, iters=pagerank_iters)
            metrics = write_partitioned(
                metrics.withColumn("salt", bucket_key(F.col("node"), 64)),
                "pawpaw.node_metrics",
                metrics_out,
                (),
            )
            lineage.record(
                spark,
                [
                    {
                        "stage": "analytics",
                        "partition_key": "__global__",
                        "input_fingerprint": metrics_fp,
                        "rows_in": int(sum(r["rows_in"] for r in fp_rows)),
                        "rows_out": int(metrics.count()),
                        "wall_ms": int((time.time() - t0) * 1000),
                        "status": "ok",
                    }
                ],
            )
        result["node_metrics"] = metrics

    return result
