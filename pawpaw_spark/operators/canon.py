"""Canonicalization: connected components over match edges, no
GraphFrames dependency — iterative min-label propagation on DataFrames
with localCheckpoint to cut lineage (SURVEY.md §4.2 item 3).

At 100 TB the label table is hash-partitioned by node; each iteration is
two co-partitioned joins + one agg. Iterations ~ cluster diameter
(symbol-name clusters are shallow); `max_iters` bounds the skewed worst
case and a checkpoint every round keeps the DAG from growing without
bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pawpaw_spark.lineage import bucket_key
from pawpaw_spark.session import local_frame, truncated_checkpoint


def _driver_union_find(spark, rows, node_field) -> DataFrame:
    """Exact union-find on collected (src, dst) pairs; comp = min member
    (same result as the distributed path). Used only below the size
    cutover — the pair set is metadata-sized there by definition."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [{"node": n, "comp": find(n)} for n in parent]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", node_field.dataType, True),
            T.StructField("comp", node_field.dataType, True),
        ]
    )
    return local_frame(spark, out, schema)


def connected_components(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iters: int = 25,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """(node, component) — component = min node id in the component.

    Min-label propagation + pointer jumping: every round each node (1)
    adopts the smallest label among itself and its neighbors, then (2)
    adopts its label's label (path halving). Step 2 shortcuts label
    chains, so a path graph of n nodes converges in O(log n) rounds
    instead of O(n) — ``max_iters=25`` covers components of ~2^25
    diameter. Undirected: edges are symmetrized once up front.

    If the loop exits without converging the result would be WRONG
    (labels mid-propagation), so it raises instead.

    Size cutover: a distinct match-pair set at or below
    ``driver_threshold`` is metadata-sized, and each distributed round
    costs two joins + two actions of pure fixed overhead on it
    (measured: the iterative path dominated the whole KG pipeline's
    canon stage on a ~50-node symbol graph). Small graphs therefore run
    an exact driver-side union-find with identical output; big graphs
    keep the distributed path. Pass ``driver_threshold=0`` to force the
    distributed path (tests do).
    """
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        # persisted on BOTH paths: the distributed loop reads sym every
        # round — unpersisted, each round re-runs the symmetrize+distinct
        .persist()
    )
    if driver_threshold and driver_threshold > 0:
        # one probe: the size test and, below the cutover, the pairs
        rows = sym.limit(driver_threshold + 1).collect()
        if len(rows) <= driver_threshold:
            out = _driver_union_find(
                edges.sparkSession, rows, sym.schema["src"]
            )
            sym.unpersist()
            return out
    n_sym = sym.count()  # metadata action; sizes the loop shuffle width
    from pawpaw_spark.session import fixpoint_loop_conf

    with fixpoint_loop_conf(edges.sparkSession, approx_state_rows=n_sym):
        nodes = sym.select(F.col("src").alias("node")).distinct()
        labels = nodes.withColumn("comp", F.col("node"))

        labels = truncated_checkpoint(labels)
        for it in range(max_iters):
            # neighbor labels: for each edge (src,dst), dst hears src's
            # comp
            msgs = (
                sym.join(labels, sym["src"] == labels["node"])
                .select(F.col("dst").alias("node"), F.col("comp"))
            )
            new_labels = (
                labels.select("node", "comp")
                .union(msgs)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
            )
            # pointer jumping (path halving): comp <- label(comp). Labels
            # only ever shrink toward the component min, and every comp
            # value is itself a node (labels start as node ids), so the
            # inner join is total. This is the step that makes long chains
            # O(log n) rounds.
            jump = new_labels.select(
                F.col("node").alias("comp"), F.col("comp").alias("comp2")
            )
            new_labels = (
                new_labels.join(jump, "comp")
                .select("node", F.least("comp", "comp2").alias("comp"))
            )
            # materialize EVERY iteration: the convergence probe below is
            # an action, and an unmaterialized chain re-executes from the
            # last checkpoint on every action — quadratic work between
            # checkpoints (measured 35s for a tiny edge set). The label
            # table is one row per node; eager localCheckpoint keeps each
            # iteration O(1) passes and the lineage flat.
            new_labels = truncated_checkpoint(new_labels)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            sym.unpersist()
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} "
                "rounds; labels are mid-propagation and component "
                "assignments are wrong. Raise max_iters (rounds ~ "
                "log2(component diameter))."
            )
    # release the cached symmetrized edge set on the distributed path
    # too (no-op when driver_threshold==0 and it was never persisted);
    # otherwise the executor storage leaks for the session lifetime.
    sym.unpersist()
    return labels.select("node", "comp")


def incremental_components(
    mapping: DataFrame,
    new_edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    **cc_kwargs,
) -> DataFrame:
    """Fold NEW match edges into an existing ``(node, comp)`` mapping
    without re-running union-find over the full historical edge set —
    the daily-ingest companion to
    :func:`pawpaw_spark.operators.dedup.minhash_dedup_delta`.

    Correctness: a components mapping is itself an edge set (every node
    connected to its label) that generates exactly the same partition
    of the nodes as the original match edges did; CC over
    ``mapping-as-edges ∪ new_edges`` therefore equals CC over
    ``historical_edges ∪ new_edges``. Cost: the mapping is a depth-1
    forest, so the min-label + pointer-jumping loop runs over
    ``|nodes| + |new_edges|`` rows and converges in rounds bounded by
    the diameter of the NEW bridges only — independent of how many
    historical edges produced the mapping. Component labels are
    min-ids, so a label only ever changes when components merge; the
    changed-mapping set that drives
    :func:`rewrite_edges_canonical`-style delta rewrites stays
    proportional to the merges, not the corpus."""
    m_edges = mapping.select(
        F.col("node").alias(a_col), F.col("comp").alias(b_col)
    )
    ne = new_edges.select(a_col, b_col)
    return connected_components(
        m_edges.unionByName(ne), a_col=a_col, b_col=b_col, **cc_kwargs
    )


def canonicalize_nodes(
    nodes: DataFrame, match_edges: DataFrame, salt_buckets: int = 64
) -> DataFrame:
    """Assign canon_id to every node: symbols take their component's min
    member (prefix-preserved); everything else is its own canon. Adds
    ``salt``, an ``int`` hash bucket of ``canon_id`` kept as a stored
    column of the flat ``nodes`` table (pipeline.build_kg)."""
    comps = connected_components(match_edges)
    sym_canon = comps.select(
        F.concat(F.lit("sym:"), F.col("node")).alias("node_id"),
        F.concat(F.lit("sym:"), F.col("comp")).alias("__canon"),
    )
    out = (
        nodes.join(sym_canon, "node_id", "left")
        .withColumn("canon_id", F.coalesce(F.col("__canon"), F.col("node_id")))
        .drop("__canon")
    )
    return out.withColumn("salt", bucket_key(F.col("canon_id"), salt_buckets))


def rewrite_edges_canonical(edges: DataFrame, nodes_canon: DataFrame) -> DataFrame:
    """Rewrite edge endpoints to canonical ids.

    Only CHANGED mappings participate in the joins: every node with
    ``canon_id == node_id`` maps to itself, which the left-join +
    coalesce already produces for absent keys. The changed set is the
    symbols inside non-trivial match clusters — orders of magnitude
    smaller than the node table (measured: two 5.8M x 5.5M sort-merge
    joins became two broadcast joins at 100k files), and it stays small
    relative to the corpus at any scale."""
    changed = nodes_canon.filter(F.col("canon_id") != F.col("node_id"))
    subj_map = changed.select(
        F.col("node_id").alias("subj"), F.col("canon_id").alias("subj_canon")
    )
    obj_map = changed.select(
        F.col("node_id").alias("obj"), F.col("canon_id").alias("obj_canon")
    )
    return (
        edges.join(subj_map, "subj", "left")
        .join(obj_map, "obj", "left")
        .select(
            F.coalesce("subj_canon", F.col("subj")).alias("subj"),
            "pred",
            F.coalesce("obj_canon", F.col("obj")).alias("obj"),
            "doc_id",
            "start",
            "stop",
        )
    )
