"""Graph analytics over KG edge tables: PageRank, triangle counting,
and the undirected-projection helper they share.

The reference engine stops at building the graph (segments -> triples);
these operators answer the questions a KG consumer asks next — which
symbols matter (PageRank over the call graph), how clustered the code
is (triangles), which symbols form one translation unit (connected
components, :func:`pawpaw_spark.operators.canon.connected_components`).

Scale notes (100 TB corpus -> billions of edges):

* PageRank keeps one (node, rank) row per node and one
  (src, dst, out_deg) row per edge; each iteration is a co-partitioned
  join on the source node plus one aggregation shuffle on the
  destination — the textbook 2-shuffle round. The dangling-mass term is
  a 1-row aggregate broadcast back in, never a driver action, so an
  iteration adds NO job boundary; ``checkpoint_every`` bounds lineage
  for deep iteration counts (the CC loop instead checkpoints every
  round: its convergence probe is an action per round).
* Triangle counting uses the degree-ordered orientation (each
  undirected edge directed from its lower-(degree, id) endpoint), which
  bounds every node's out-neighborhood by O(sqrt(m)) regardless of
  in-degree skew — a star of n leaves produces n wedges, not n^2. Both
  joins are equi-joins on node ids, so AQE can split stragglers.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pawpaw_spark.session import (
    fixpoint_loop_conf,
    relax,
    semi_naive,
    truncated_checkpoint,
)


# PageRank fixed-point unit: ranks live in int64 multiples of 1e-15.
# Sized so the largest recurrence term, d1000 * (contrib + dmass/N)
# <= 1000 * 2 * _PR_SCALE = 2e18, stays inside int64 (2^63 ~ 9.2e18).
_PR_SCALE = 10**15


def undirected_edges(
    edges: DataFrame, a_col: str = "src", b_col: str = "dst"
) -> DataFrame:
    """Canonical undirected simple edge set: (a, b) with a < b, self
    loops dropped, duplicates collapsed. One shuffle (the distinct)."""
    return (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 8,
    materialize: bool = True,
    teleport_to: DataFrame | None = None,
    strict_seeds: bool = True,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration power-method PageRank -> (node, rank).

    Semantics (the classic formulation, so any textbook implementation
    is an oracle):

    * edge multiplicities are collapsed first (``distinct``) — a call
      site repeated in one body votes once;
    * self loops count: a node with an edge to itself keeps a share of
      its own rank;
    * dangling nodes (no out-edges) spread their rank uniformly:
      ``rank' = (1-d)/N + d * (sum_in rank/out_deg + dangling_mass/N)``.

    A FIXED iteration count (no convergence probe) keeps the operator a
    single lazy plan and makes results reproducible across engines —
    callers wanting convergence run it again with a larger ``iters``.
    ``N`` comes from one metadata-sized ``count()``; everything else is
    joins/aggs on the edge and rank tables.

    Determinism: ranks are carried in FIXED-POINT int64 (``rank_fp``,
    units of 1e-15). Integer sums are exact and order-independent, so
    the result is bit-identical at ANY partitioning, cluster size, or
    engine — a distributed float64 sum accumulates in plan-dependent
    order and drifts in the last ulp, which flips rounded values
    non-deterministically (round-3 review finding). The float ``rank``
    column is one exact final division ``rank_fp / 1e15``; floor losses
    in the integer recurrence are <= ~(E+N) units (1e-15 each) per
    iteration, far below float64 noise for any graph that fits a
    cluster. ``damping`` must have at most 3 decimal places — it enters
    the integer recurrence as a parts-per-1000 factor (850 for 0.85),
    sized so every intermediate stays inside int64: the largest term is
    1000 * 2e15 = 2e18 < 2^63.

    ``teleport_to`` (a DataFrame with a ``node`` column) switches to
    PERSONALIZED PageRank: the teleport share and the dangling mass
    flow only to the seed set (restricted to nodes present in the
    graph), initial rank is uniform over the seeds, non-seeds start at
    0 — importance RELATIVE to the seeds ("what matters from these
    entry points"). Same exact integer recurrence; ``teleport_to``
    covering every node reproduces classic PageRank bit-for-bit
    (tests pin this). ``strict_seeds=True`` (default) raises when any
    requested seed is absent from the graph — a typo'd id would
    otherwise silently renormalize every other seed's share;
    ``strict_seeds=False`` opts into renormalizing over the present
    seeds (still raising if NONE are present).

    ``weight_col`` switches to WEIGHTED PageRank: parallel edges SUM
    their integer weights (a call site repeated 10x votes 10x — the
    opposite of the unweighted distinct), and a node's rank splits
    across out-edges in proportion weight / out-strength. Weights must
    be integers >= 1 (raises per offending row); the rank_fp * w
    product is widened to DECIMAL(38,0) before the floor division, so
    the recurrence stays exact integers end-to-end and the bit-identity
    guarantee carries over — the weighted oracle is the same recurrence
    with HUGEINT/decimal arithmetic.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    d1000 = int(round(damping * 1000))
    if not 0 <= d1000 <= 1000 or abs(d1000 - damping * 1000) > 1e-9:
        raise ValueError(
            f"damping={damping} must be a multiple of 0.001 in [0, 1] — it "
            "enters the exact fixed-point recurrence as an integer per-mille"
        )
    if weight_col is None:
        e = edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).distinct()
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        # `div` = integral division: exact, order-independent
        contrib_expr = "rank_fp div out_deg"
    else:
        wv = F.col(weight_col).cast("long")
        e = (
            edges.select(
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
                F.when(wv >= 1, wv)
                .otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("pagerank: edge weights must be integers "
                                  ">= 1, got "),
                            F.col(weight_col).cast("string"),
                        )
                    )
                )
                .alias("w"),
            )
            # parallel edges SUM their weights (a call site repeated in
            # one body votes its multiplicity — the weighted contract,
            # unlike the unweighted distinct)
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
        deg = e.groupBy("src").agg(F.sum("w").alias("out_deg"))
        # rank mass splits in proportion w / out-strength; the product
        # is widened to DECIMAL(38,0) so rank_fp * w cannot overflow
        # int64, then floored by div — still exact integers end-to-end
        contrib_expr = (
            "CAST(CAST(rank_fp AS DECIMAL(38,0)) * w AS DECIMAL(38,0))"
            " div out_deg"
        )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst")))
        .distinct()
    )
    # (src, dst[, w], out_deg): built once, reused every iteration —
    # persist so the dedup/weight-sum + degree agg don't rerun per
    # round. Released before return; rank tables are checkpointed.
    links = e.join(deg, "src").persist()
    # rank table CARRIES the node's own out_deg (null = dangling): the
    # dangling mass then falls out of a plain aggregate over the rank
    # table instead of a per-iteration anti-join shuffle against deg.
    # is_seed is folded in BEFORE the (single) counting action so the
    # node-distinct / degree shuffles run once against the persisted
    # table, not once per scalar probe (round-3 review finding).
    nodes_deg = nodes.join(
        deg, nodes["node"] == deg["src"], "left"
    ).select("node", "out_deg")
    n_requested = None
    if teleport_to is not None:
        tele = teleport_to.select("node").distinct()
        n_requested = tele.count()  # metadata-sized seed list
        nodes_deg = nodes_deg.join(
            tele.withColumn("_seed", F.lit(True)), "node", "left"
        ).withColumn("is_seed", F.coalesce("_seed", F.lit(False))).drop("_seed")
    else:
        nodes_deg = nodes_deg.withColumn("is_seed", F.lit(True))
    nodes_deg = nodes_deg.persist()
    counts = nodes_deg.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.col("is_seed").cast("long")), F.lit(0)
        ).alias("s"),
    ).first()
    n_nodes, n_teleport = int(counts["n"]), int(counts["s"])
    if teleport_to is not None and n_nodes > 0:
        if n_teleport == 0:
            raise ValueError(
                "teleport_to contains no node present in the graph"
            )
        if strict_seeds and n_teleport < n_requested:
            # a silently-dropped seed renormalizes every survivor's
            # teleport share — a typo'd seed id must fail loud, not
            # quietly reshape all ranks (round-3 review finding)
            raise ValueError(
                f"teleport_to has {n_requested - n_teleport} node(s) absent "
                f"from the graph ({n_teleport}/{n_requested} matched); pass "
                "strict_seeds=False to renormalize over the present seeds"
            )
    if n_nodes == 0:
        links.unpersist()
        nodes_deg.unpersist()
        out = nodes.withColumn("rank", F.lit(0.0)).withColumn(
            "rank_fp", F.lit(0).cast("long")
        )
        out._pagerank_n = 0
        return out
    # (1-d)/|S| teleport share, exact in Python ints (metadata-sized)
    base = (1000 - d1000) * _PR_SCALE // (1000 * n_teleport)
    # materialize=True runs the whole iteration chain INSIDE the
    # operator (the eager checkpoint below), so the fixpoint execution
    # discipline applies: shuffle width sized to the rank-table STATE,
    # AQE off (uniform metadata-sized loop shuffles; AQE would
    # materialize every half-step stage as its own job — pure
    # job-launch fixed cost x iterations). materialize=False returns
    # the lazy plan, which executes under the caller's session conf.
    from contextlib import nullcontext

    scope = (
        fixpoint_loop_conf(edges.sparkSession, approx_state_rows=n_nodes)
        if materialize and iters > 0
        else nullcontext()
    )
    with scope:
        out = _pagerank_iterate(
            links, nodes_deg, iters, d1000, base, n_teleport,
            contrib_expr, checkpoint_every, materialize,
        )
    if materialize:
        links.unpersist()
        nodes_deg.unpersist()
    else:
        # caller consumes the lazy plan; the caches are released by
        # release_session_caches()/cached_scope like every operator cache
        from pawpaw_spark.operators.dedup import _attach_caches

        _attach_caches(out, [links, nodes_deg])
    # node count, for callers normalizing ranks (attribute does not
    # survive further DataFrame transformations — read it first)
    out._pagerank_n = n_nodes
    return out


def _pagerank_iterate(
    links, nodes_deg, iters, d1000, base, n_teleport, contrib_expr,
    checkpoint_every, materialize,
):
    """The PageRank recurrence (split out so the fixpoint-conf scope in
    :func:`pagerank` wraps iteration AND materialization together)."""
    ranks = nodes_deg.withColumn(
        "rank_fp",
        F.when(
            F.col("is_seed"), F.lit(_PR_SCALE // n_teleport)
        ).otherwise(F.lit(0)).cast("long"),
    )
    for it in range(iters):
        contribs = (
            links.join(
                ranks.select("node", "rank_fp"),
                links["src"] == F.col("node"),
            )
            .select(
                F.col("dst").alias("node"),
                F.expr(contrib_expr).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        # rank mass sitting on dangling nodes, as a 1-row broadcast —
        # an expression input, not a driver-side scalar, so the whole
        # iteration stays one lazy plan
        dangling = F.broadcast(
            ranks.agg(
                F.coalesce(
                    F.sum(
                        F.when(F.col("out_deg").isNull(), F.col("rank_fp"))
                        .otherwise(F.lit(0))
                    ),
                    F.lit(0),
                ).cast("long").alias("dmass")
            )
        )
        ranks = (
            nodes_deg.join(contribs, "node", "left")
            .crossJoin(dangling)
            .select(
                "node",
                "out_deg",
                "is_seed",
                F.when(
                    F.col("is_seed"),
                    F.lit(base)
                    + F.expr(
                        f"({d1000} * (coalesce(contrib, 0L) "
                        f"+ dmass div {n_teleport})) div 1000"
                    ),
                )
                .otherwise(
                    F.expr(f"({d1000} * coalesce(contrib, 0L)) div 1000")
                )
                .cast("long").alias("rank_fp"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0 and it + 1 < iters:
            ranks = truncated_checkpoint(ranks)
    ranks = ranks.withColumn(
        "rank", (F.col("rank_fp") / F.lit(float(_PR_SCALE))).alias("rank")
    ).select("node", "rank", "rank_fp")
    # materialize=False keeps the full lazy plan (plan-shape tests);
    # the links cache is then left for the caller's first action
    return (
        ranks.localCheckpoint(eager=True)
        if materialize and iters > 0
        else ranks
    )


@contextmanager
def _loop_edges(e: DataFrame):
    """Persist a traversal's edge table for its loop and size the
    :func:`pawpaw_spark.session.fixpoint_loop_conf` scope by its row
    count."""
    e = e.persist()
    try:
        with fixpoint_loop_conf(e.sparkSession, approx_state_rows=e.count()):
            yield e
    finally:
        e.unpersist()


def reachability(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 8,
) -> DataFrame:
    """Multi-source BFS -> (node, depth): length of the shortest
    DIRECTED path from any seed (0 for seeds themselves), truncated at
    ``max_depth``; unreachable nodes are absent. The KG use: transitive
    dependencies/dependents of a symbol set ("what does f touch within
    k calls"), impact analysis for a changed file.

    Depths are exact small integers, so results are bit-identical on
    any cluster size or engine — the DuckDB contract oracle is a
    recursive CTE over the same edge set.

    It is :func:`shortest_path_tree` without the parent column: the
    same semi-naive BFS, one level per round. ``seeds`` is a DataFrame
    (column ``node``), never a driver-side list — seed sets can be
    query results (e.g. "all symbols defined in this repo")."""
    return shortest_path_tree(
        edges, seeds, src_col, dst_col, max_depth
    ).select("node", "depth")


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    max_dist: int | None = None,
    max_rounds: int = 256,
) -> DataFrame:
    """Weighted single/multi-source shortest paths -> (node, dist):
    the minimum total edge weight of any DIRECTED path from the seed
    set (0 for seeds), distributed Bellman-Ford (min-plus relaxation).
    The KG use :func:`reachability` (hop depths) cannot serve: call
    graphs carry COSTS — call-site multiplicity, inlining weight, edge
    latency — and "cheapest dependency path" ranks by accumulated
    weight, not hop count (a 3-hop chain of weight-1 edges beats a
    1-hop weight-5 edge).

    Weights must be integers >= 1 (raises per offending row; omit
    ``weight_col`` for unit weights = weighted BFS); parallel edges
    keep their MINIMUM weight. Distances are exact int64 sums, so
    results are bit-identical at any partitioning or engine — the
    DuckDB contract oracle is a recursive CTE over the same edge set.

    ``max_dist`` truncates the search: nodes whose cheapest path costs
    more are absent (the impact-radius query; also what keeps a
    recursive-CTE oracle finite on cyclic graphs). ``max_rounds``
    guards convergence — rounds needed = max edge count over all
    shortest paths, plus one — so the guard only fires on pathological
    deep-chain graphs, and it RAISES rather than returning
    mid-relaxation distances.

    The loop is :func:`pawpaw_spark.session.relax` with the message
    ``dist + w`` (kept only while ``<= max_dist``) and ``min``: per
    round one equi-join of the edges with the distance table and one
    min-agg, both on node ids.
    """
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    if max_dist is not None and max_dist < 0:
        raise ValueError("max_dist must be >= 0")

    if weight_col is None:
        w = F.lit(1).cast("long")
    else:
        wv = F.col(weight_col).cast("long")
        w = F.when(wv >= 1, wv).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("shortest_paths: edge weights must be integers "
                          ">= 1, got "),
                    F.col(weight_col).cast("string"),
                )
            )
        )
    dist = F.col("val") + F.col("w")
    if max_dist is not None:
        dist = F.when(dist <= max_dist, dist)
    with _loop_edges(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
            w.alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    ) as e:
        seen = truncated_checkpoint(
            seeds.select("node").distinct()
            .withColumn("val", F.lit(0).cast("long"))
        )
        return relax(
            seen, e, dist, "min", max_rounds, "shortest_paths",
            "rounds needed = the most edges on any shortest path, plus one",
        ).withColumnRenamed("val", "dist")


def triangle_count(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    materialize: bool = True,
) -> DataFrame:
    """Per-node triangle membership count -> (node, n_triangles), one
    row for EVERY node of the undirected simple projection (0 for
    triangle-free nodes).

    Degree-ordered orientation (Suri & Vassilvitskii's MR-friendly
    scheme): direct each undirected edge from its lower-(degree, id)
    endpoint to the higher one. Every triangle {x, y, z} (ordered so
    x -> y -> z in the total order) is then found exactly once, as the
    wedge (y, z) out of x joined against the oriented edge y -> z. The
    orientation bounds out-neighborhoods by O(sqrt(m)) — high-degree
    hubs collect IN-edges, so hub skew caps wedge fan-out instead of
    squaring it.
    """
    und = undirected_edges(edges, a_col, b_col).persist()
    # deg feeds da, db, and the final full-node join; oriented feeds
    # e1, e2, and closer — both are recomputed per consumer without a
    # persist (the alias chains defeat ReusedExchange), which re-runs
    # the und⋈da⋈db double join three times. O(n) and O(m) storage
    # respectively — the standard trade for distributed triangle
    # counting.
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = keyed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("vdeg"),
    ).persist()
    # wedges (u; v -> w) with v before w in the (deg, id) order, closed
    # by the oriented edge v -> w
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("vdeg").alias("d1"))
    e2 = oriented.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("vdeg").alias("d2")
    )
    wedges = e1.join(e2, e1["u"] == e2["u2"]).filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closer = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tris = wedges.join(closer, ["v1", "v2"]).select(
        F.col("u").alias("x"), F.col("v1").alias("y"), F.col("v2").alias("z")
    )
    per_node = (
        tris.select(F.col("x").alias("node"))
        .union(tris.select(F.col("y")))
        .union(tris.select(F.col("z")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = (
        deg.select("node")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )
    if materialize:
        out = out.localCheckpoint(eager=True)
        und.unpersist()
        deg.unpersist()
        oriented.unpersist()
    else:
        from pawpaw_spark.operators.dedup import _attach_caches

        _attach_caches(out, [und, deg, oriented])
    return out


def clustering_coefficient(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    round_to: int = 9,
) -> DataFrame:
    """Local clustering coefficient over the undirected simple
    projection -> (node, deg, n_triangles, lcc) for EVERY node:
    ``lcc = 2 * triangles / (deg * (deg - 1))``, 0.0 for deg < 2.
    The KG use: how module-like a symbol's neighborhood is — a high-lcc
    symbol's callers/callees also call each other (a cohesive
    translation unit), a low-lcc high-degree symbol is a pure utility
    hub. Watts & Strogatz's local measure, computed from
    :func:`triangle_count`'s degree-ordered enumeration, so the same
    O(sqrt(m)) wedge bound applies — no new quadratic risk.

    ``deg``/``n_triangles`` are exact integers; ``lcc`` is ONE float
    division rounded to ``round_to`` decimals so cross-engine value
    hashing is stable (the bm25/link-prediction convention).
    """
    und = undirected_edges(edges, a_col, b_col).persist()
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    tri = triangle_count(und, "a", "b", materialize=False)
    out = deg.join(tri, "node").select(
        "node",
        "deg",
        "n_triangles",
        F.when(
            F.col("deg") >= 2,
            F.round(
                2.0 * F.col("n_triangles")
                / (F.col("deg") * (F.col("deg") - 1.0)),
                round_to,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )
    out = out.localCheckpoint(eager=True)
    und.unpersist()
    return out


def cooccurrence_edges(
    edges: DataFrame,
    subj_col: str = "subj",
    obj_col: str = "obj",
    max_fan: int | None = 1000,
    min_count: int = 1,
) -> DataFrame:
    """Derived co-occurrence edge table -> (a, b, n_subjects) with
    a < b: pairs of objects referenced by the same subject, weighted by
    how many DISTINCT subjects reference both. The classic KG
    enrichment edge — symbols co-referenced by many files are
    coupled even when neither calls the other (shared protocol,
    config keys, co-changed APIs); downstream analytics (communities,
    link prediction) run on this derived table like any other edge
    set.

    Scale shape: the pair generation is a self-join of the
    (subject, object) table on the subject — the only quadratic risk
    is a subject referencing k objects emitting C(k, 2) pairs, so
    ``max_fan`` drops subjects above that fan-out entirely (a
    generated 10^5-import file would otherwise emit 5e9 pairs; the
    link_prediction hub guard applied at the subject position).
    Counts are exact integers: (subject, object) pairs are dedup'd
    first, so ``count(*)`` per (a, b) IS the distinct-subject count.
    """
    refs = (
        edges.select(F.col(subj_col).alias("s"), F.col(obj_col).alias("o"))
        .distinct()
        .persist()
    )
    keep = refs.groupBy("s").agg(F.count(F.lit(1)).alias("_fan"))
    if max_fan is not None:
        keep = keep.filter(F.col("_fan") <= max_fan)
    bounded = refs.join(keep.select("s"), "s", "left_semi")
    r1 = bounded.select("s", F.col("o").alias("a"))
    r2 = bounded.select("s", F.col("o").alias("b"))
    out = (
        r1.join(r2, "s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_subjects"))
        .filter(F.col("n_subjects") >= min_count)
    )
    out = out.localCheckpoint(eager=True)
    refs.unpersist()
    return out


def strongly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_outer: int = 64,
    max_color_rounds: int = 512,
) -> DataFrame:
    """Exact SCC decomposition of a DIRECTED graph -> (node, scc),
    where ``scc`` is the LARGEST member id of the node's strongly
    connected component (the coloring root — see below; a canonical,
    deterministic label). The KG use the undirected
    :func:`pawpaw_spark.operators.canon.connected_components` cannot
    serve: mutual-recursion groups and cyclic import/dependency
    clusters in a call graph, where a -> b alone must NOT merge a with
    b. The condensation (SCCs contracted) is the dependency DAG a
    build scheduler topo-sorts — see :func:`condensation`.

    Algorithm — the distributed forward-max coloring scheme (the
    FW-BW/coloring family of Orzan and Slota-Rajamanickam-Madduri,
    rebuilt on DataFrame joins):

    1. TRIM: a node with no in-edges or no out-edges inside the active
       subgraph cannot lie on a cycle — assign it its own singleton
       SCC and peel; repeat to fixpoint (a DAG region unravels
       entirely here, one round per peel layer).
    2. COLOR: every active node starts with its own id; each round
       takes ``greatest(own, max over in-edges)`` until no color
       changes. Colors only grow, so the fixpoint is exact: color(u)
       = the max id that reaches u.
    3. COLLECT: roots are nodes whose color is their own id (the max
       id of an SCC always roots: any larger member would have flooded
       it). Within each color class, propagate the REVERSE max —
       ``rcolor(u) = greatest(u, max over out-edges within the class)``
       to fixpoint = the max id u reaches inside its class. Then
       ``u ∈ SCC(c)  iff  color(u) = c and rcolor(u) = c``: rcolor = c
       means u reaches c within the class (c is its class max, so
       nothing larger is reachable), and the class restriction loses
       nothing — any intermediate w on a u→c path has color(w) ≥ c
       (c reaches u reaches w) and a larger id reaching w would reach
       c too, contradicting color(c) = c. This is the same fixpoint
       as COLOR over the reversed class edges — unlike a per-level
       backward BFS, which costs 3-4 shuffles per level plus a growing
       union chain.
    4. Peel the collected SCCs (survivors are exactly the rows with
       rcolor < color), repeat from 1 on the remainder.

    Exactness and determinism: membership is a pure reachability fact
    and the label is the max member id — bit-identical at any
    partitioning or cluster size, so a closed-form or Tarjan oracle
    can check it row-for-row.

    Scale shape: every step is an equi-join or agg on node ids;
    per-round state is O(V + E_active), each CHECKPOINT's output is
    truncated so lineage stays O(1), and the whole loop runs under
    :func:`pawpaw_spark.session.fixpoint_loop_conf` — shuffle width
    sized to the edge count (not the corpus default) and AQE off, since
    a fixpoint loop's stages are uniform and the adaptive re-planning
    would otherwise materialize every tiny shuffle as its own job
    (measured 223 jobs -> ~40 for one sf0.1 decomposition). COLOR and
    COLLECT are :func:`pawpaw_spark.session.relax` with ``max``: three
    rounds per checkpoint run back to back in one job (identical
    subplans collapse via ReusedExchange; the only cost is up to two
    no-op rounds after the fixpoint lands), and each needs the active
    diameter plus one rounds, capped by ``max_color_rounds`` (raises).
    Rounds: trim <= peel depth, color/collect <= active diameter, outer
    rounds <= condensation chain length of same-round-surviving SCCs
    (1 for disjoint SCC families, O(chain) for pathological
    cycle-chains — ``max_outer`` caps it and RAISES rather than
    returning a partial answer, like union-find's convergence guard).
    """
    e_all = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .persist()
    )
    n_edges = e_all.count()  # metadata action; also sizes the loop width
    spark = edges.sparkSession
    empty = spark.createDataFrame([], "node string, scc string")
    assigned: list[DataFrame] = []

    hint = (
        "max_color_rounds; rounds needed = the active subgraph's "
        "diameter, plus one"
    )

    with fixpoint_loop_conf(spark, approx_state_rows=n_edges):
        active = truncated_checkpoint(
            e_all.select(F.col("src").alias("node"))
            .union(e_all.select(F.col("dst")))
            .distinct()
        )
        ae = truncated_checkpoint(e_all)
        e_all.unpersist()
        n_active = active.count()
        for _outer in range(max_outer):
            if n_active == 0:
                break
            # -- trim to fixpoint --------------------------------------
            # ae is restricted LAZILY by the current active set; only
            # the shrinking live set is checkpointed per peel round
            while True:
                a1 = active.select(F.col("node").alias("_a1"))
                a2 = active.select(F.col("node").alias("_a2"))
                ae_r = ae.join(a1, ae["src"] == F.col("_a1"), "left_semi").join(
                    a2, F.col("dst") == F.col("_a2"), "left_semi"
                )
                live = truncated_checkpoint(
                    ae_r.select(F.col("src").alias("node"))
                    .distinct()
                    .join(
                        ae_r.select(F.col("dst").alias("node")).distinct(),
                        "node",
                    )
                )
                n_live = live.count()
                if n_live == n_active:
                    break
                # trimmed nodes are singleton SCCs; the anti-join stays
                # lazy — both inputs are checkpointed leaves, and the
                # final union computes it exactly once
                assigned.append(
                    active.join(live, "node", "left_anti").select(
                        "node", F.col("node").alias("scc")
                    )
                )
                active, n_active = live, n_live
                if n_active == 0:
                    break
            if n_active == 0:
                break
            # one materialized restriction for the color+collect phases
            a1 = active.select(F.col("node").alias("_a1"))
            a2 = active.select(F.col("node").alias("_a2"))
            ae = truncated_checkpoint(
                ae.join(a1, ae["src"] == F.col("_a1"), "left_semi").join(
                    a2, F.col("dst") == F.col("_a2"), "left_semi"
                )
            )
            # -- forward max-color propagation to fixpoint -------------
            colors = relax(
                active.select("node", F.col("node").alias("val")),
                ae, F.col("val"), "max", max_color_rounds,
                "strongly_connected_components color", hint,
            )
            # -- collect: reverse max within each color class ----------
            cs = colors.select(F.col("node").alias("_s"), F.col("val").alias("_cs"))
            cd = colors.select(F.col("node").alias("_d"), F.col("val").alias("_cd"))
            same_rev = truncated_checkpoint(
                ae.join(cs, ae["src"] == F.col("_s"))
                .join(cd, ae["dst"] == F.col("_d"))
                .filter(F.col("_cs") == F.col("_cd"))
                .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            rcol = relax(
                colors.select(
                    "node", F.col("node").alias("val"),
                    F.col("val").alias("color"),
                ),
                same_rev, F.col("val"), "max", max_color_rounds,
                "strongly_connected_components collect", hint,
            )
            members = rcol.filter(F.col("val") == F.col("color")).select(
                "node", F.col("color").alias("scc")
            )
            assigned.append(members)
            active = truncated_checkpoint(
                rcol.filter(F.col("val") != F.col("color")).select("node")
            )
            n_active = active.count()
        else:
            if n_active > 0:
                raise RuntimeError(
                    f"strongly_connected_components: did not assign every "
                    f"node within max_outer={max_outer} rounds "
                    "(pathologically chained cycle structure — raise "
                    "max_outer)"
                )
    out = empty
    for part in assigned:
        out = out.union(part)
    return out


def condensation(
    edges: DataFrame,
    scc: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Contract each SCC to one node -> the condensation DAG
    (scc_src, scc_dst), self-edges dropped, distinct. Feeding it a
    ``scc`` mapping from :func:`strongly_connected_components` yields
    the acyclic dependency graph a scheduler can topo-sort; two
    broadcast-able joins against the (node, scc) mapping when the SCC
    table is dimension-sized, plain equi-joins otherwise."""
    m_src = scc.select(F.col("node").alias("src"), F.col("scc").alias("scc_src"))
    m_dst = scc.select(F.col("node").alias("dst"), F.col("scc").alias("scc_dst"))
    return (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .join(m_src, "src")
        .join(m_dst, "dst")
        .select("scc_src", "scc_dst")
        .filter(F.col("scc_src") != F.col("scc_dst"))
        .distinct()
    )


def topo_layers(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_layers: int = 1024,
) -> DataFrame:
    """Topological layering of a DAG -> (node, layer), where ``layer``
    is the length of the LONGEST path from any source (zero-in-degree
    node) — Kahn peeling, the parallel-build schedule: every node in a
    layer can run once all earlier layers finished, and the layer count
    is the critical-path length. RAISES on a cycle (a partial order
    with a cycle has no schedule; feed cyclic graphs through
    :func:`strongly_connected_components` + :func:`condensation`
    first — that composition is the cyclic-dependency-aware build
    order).

    Layers are exact small integers, so results are bit-identical at
    any parallelism. Scale shape: per layer, one in-degree agg over the
    remaining edges + two anti-joins, all equi-joins on node ids;
    remaining-edge/node tables are truncated-checkpointed per round, so
    lineage stays O(1). Rounds = DAG depth (the schedule's critical
    path — anything that computes longest paths pays it)."""
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .persist()
    )
    n_e = e.count()  # materializes the cache; sizes the loop width
    if not e.filter(F.col("src") == F.col("dst")).isEmpty():
        e.unpersist()
        raise ValueError(
            "topo_layers: self-loop found — a self-dependency is a cycle"
        )
    spark = edges.sparkSession
    out = spark.createDataFrame([], "node string, layer long")
    with fixpoint_loop_conf(spark, approx_state_rows=n_e):
        remaining = truncated_checkpoint(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst")))
            .distinct()
        )
        n_remaining = remaining.count()
        re = truncated_checkpoint(e)
        e.unpersist()
        for layer in range(max_layers):
            if n_remaining == 0:
                return out
            zero = truncated_checkpoint(
                remaining.join(
                    re.select(F.col("dst").alias("node")).distinct(),
                    "node",
                    "left_anti",
                )
            )
            n_zero = zero.count()
            if n_zero == 0:
                raise ValueError(
                    f"topo_layers: cycle detected at layer {layer} — the "
                    "graph is not a DAG (run strongly_connected_components "
                    "+ condensation first)"
                )
            out = out.union(
                zero.select("node", F.lit(layer).cast("long").alias("layer"))
            )
            if n_zero == n_remaining:
                # the whole remainder peeled — skip the final round's
                # restriction checkpoints and the empty-probe round
                return out
            remaining = truncated_checkpoint(
                remaining.join(zero, "node", "left_anti")
            )
            n_remaining -= n_zero
            re = truncated_checkpoint(
                re.join(zero, re["src"] == zero["node"], "left_anti")
            )
    raise ValueError(
        f"topo_layers: DAG depth exceeds max_layers={max_layers}"
    )


def label_propagation(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    iters: int = 4,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, the
    deterministic variant) -> (node, label): community detection over
    the undirected simple projection.

    Each round, EVERY node simultaneously adopts the most frequent
    label among its neighbors, breaking count ties by the smallest
    label — the two places the published algorithm is nondeterministic
    (update order, random tie-break) are fixed to synchronous +
    min-label, so results are bit-identical at any partitioning,
    cluster size, or engine (the DuckDB contract oracle runs the same
    recurrence as a recursive CTE). Initial label = the node id.
    A FIXED iteration count keeps the operator one lazy plan per round
    and reproducible; synchronous LPA can 2-cycle on bipartite
    structures, so a fixpoint probe would not terminate anyway —
    callers pick ``iters`` (community diameter) like PageRank callers
    pick theirs.

    Scale shape per round: one equi-join (adjacency x labels, shuffle
    on the neighbor id) + one count aggregation + one min aggregation
    (both shuffle on the node id — AQE-splittable; a hub's incident
    rows all carry the hub's id, the same skew profile as PageRank's
    contribution agg). ``checkpoint_every`` bounds lineage depth.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    und = undirected_edges(edges, a_col, b_col).persist()
    n_und = und.count()  # materializes the cache; sizes the loop width
    adj = und.selectExpr("a as node", "b as nbr").union(
        und.selectExpr("b as node", "a as nbr")
    )
    with fixpoint_loop_conf(edges.sparkSession, approx_state_rows=n_und):
        labels = adj.select("node").distinct().withColumn(
            "label", F.col("node")
        )
        for it in range(iters):
            nbr_labels = adj.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            ).select("node", "label")
            counts = nbr_labels.groupBy("node", "label").agg(
                F.count(F.lit(1)).alias("cnt")
            )
            labels = counts.groupBy("node").agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("l"))
                )
                .getField("l")
                .alias("label")
            )
            if checkpoint_every and (it + 1) % checkpoint_every == 0 and it + 1 < iters:
                labels = truncated_checkpoint(labels)
        out = labels.localCheckpoint(eager=True) if iters > 0 else labels
    und.unpersist()
    return out


def kcore(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    k: int = 3,
    max_rounds: int = 64,
) -> DataFrame:
    """k-core of the undirected simple projection -> (node, core_deg):
    the maximal subgraph where every node has degree >= ``k``, with
    each survivor's degree INSIDE the core. The KG use: separating the
    densely cross-referenced symbol core from leaf utilities before
    running expensive analytics on it.

    Synchronized peeling: every round drops ALL nodes whose degree
    within the current survivor set is < k, simultaneously, until a
    fixpoint. The fixpoint is the k-core regardless of peel order (the
    classic invariant), and the synchronized schedule makes the round
    count ~ the cascade depth, not the node count — a chain that
    unravels one node per round is the worst case, bounded by
    ``max_rounds`` with a hard raise (silent truncation would return a
    superset of the core; the union-find convergence rule applied
    here).

    Scale shape per round: restrict adjacency to survivors (two
    equi-joins on node id) + one degree aggregation; the survivor set
    is localCheckpoint-ed so lineage stays O(1) per round and the
    fixpoint probe (one metadata ``count()``) reads materialized data.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    und = undirected_edges(edges, a_col, b_col).persist()
    n_und = und.count()  # materializes the cache; sizes the loop width
    adj = und.selectExpr("a as node", "b as nbr").union(
        und.selectExpr("b as node", "a as nbr")
    )
    try:
        with fixpoint_loop_conf(edges.sparkSession, approx_state_rows=n_und):
            cur = truncated_checkpoint(adj.select("node").distinct())
            n_cur = cur.count()
            for _ in range(max_rounds):
                deg = (
                    adj.join(cur, "node")
                    .join(cur.select(F.col("node").alias("nbr")), "nbr")
                    .groupBy("node")
                    .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
                )
                survivors = truncated_checkpoint(
                    deg.filter(F.col("core_deg") >= k)
                )
                n_next = survivors.count()
                if n_next == n_cur:
                    return survivors.select("node", "core_deg")
                cur, n_cur = survivors.select("node"), n_next
                if n_cur == 0:
                    return survivors.select("node", "core_deg")
            raise RuntimeError(
                f"kcore did not reach a fixpoint in {max_rounds} rounds — "
                "raise max_rounds (deep peel cascades unravel one layer "
                "per round)"
            )
    finally:
        und.unpersist()


def link_prediction(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    max_hub_deg: int | None = 100,
    min_common: int = 1,
    exclude_existing: bool = True,
) -> DataFrame:
    """Neighborhood link-prediction scores over the undirected simple
    projection -> (a, b, common, jaccard, adamic_adar) with a < b:
    the classic KG-completion signals (Liben-Nowell & Kleinberg 2003)
    — common-neighbor count, neighborhood Jaccard, and Adamic-Adar
    (sum of 1/ln(deg w) over shared neighbors w; rarer bridges weigh
    more).

    Shape: candidate pairs come from a WEDGE self-join of the
    adjacency on the middle node — the only quadratic risk is a hub's
    C(deg, 2) wedge fan-out, so ``max_hub_deg`` drops nodes above that
    degree from the MIDDLE position only (their neighbors still score
    through other shared neighbors; the standard guard — a 10^6-degree
    hub would otherwise emit 10^12 wedges). Degrees for the Jaccard
    denominator stay UNCAPPED. ``exclude_existing`` anti-joins pairs
    already connected (prediction, not re-scoring).

    Determinism: counts and degrees are exact integers; jaccard and
    adamic_adar are one float expression over them (round before
    hash-comparing across engines, the bm25 convention).
    """
    und = undirected_edges(edges, a_col, b_col).persist()
    adj = und.selectExpr("a as node", "b as nbr").union(
        und.selectExpr("b as node", "a as nbr")
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    mid = adj.join(deg, "node")
    if max_hub_deg is not None:
        mid = mid.filter(F.col("deg") <= max_hub_deg)
    # mid feeds BOTH sides of the wedge self-join and deg feeds the
    # final denominators: persist, or the adj⋈deg stage (two shuffles)
    # reruns per consumer — the triangle_count deg/oriented argument
    mid = mid.persist()
    w1 = mid.select(
        F.col("node").alias("w"), F.col("nbr").alias("a"), F.col("deg").alias("wdeg")
    )
    w2 = mid.select(F.col("node").alias("w"), F.col("nbr").alias("b"))
    wedges = w1.join(w2, "w").filter(F.col("a") < F.col("b"))
    pairs = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("common"),
        F.sum(1.0 / F.log(F.col("wdeg"))).alias("adamic_adar"),
    )
    if exclude_existing:
        pairs = pairs.join(und, ["a", "b"], "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    out = (
        pairs.filter(F.col("common") >= min_common)
        .join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            (F.col("common") / (F.col("da") + F.col("db") - F.col("common"))).alias(
                "jaccard"
            ),
            "adamic_adar",
        )
    )
    out = out.localCheckpoint(eager=True)
    und.unpersist()
    mid.unpersist()
    return out


def kg_node_metrics(
    edges: DataFrame,
    subj_col: str = "subj",
    obj_col: str = "obj",
    pred_col: str = "pred",
    pred: str = "REFERENCES",
    iters: int = 5,
) -> DataFrame:
    """Per-symbol analytics over a canonical KG edge table ->
    (node, out_deg, in_deg, rank, comp).

    Restricts to ``pred`` edges between symbol nodes (the call graph —
    span/file/repo edges are tree-shaped and carry no graph signal),
    then computes degrees, fixed-iteration PageRank, and the connected
    component label. One persisted edge projection feeds all four; the
    joins are equi-joins on the node id, so the whole stage is
    partition-aligned on one key.
    """
    sym = (
        edges.filter(
            (F.col(pred_col) == pred)
            & F.col(subj_col).startswith("sym:")
            & F.col(obj_col).startswith("sym:")
        )
        .select(F.col(subj_col).alias("src"), F.col(obj_col).alias("dst"))
        .distinct()
        .persist()
    )
    from pawpaw_spark.operators.canon import connected_components

    pr = pagerank(sym, iters=iters)
    out_deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    in_deg = sym.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg")
    )
    comp = connected_components(sym, "src", "dst")
    out = (
        pr.join(out_deg, "node", "left")
        .join(in_deg, "node", "left")
        .join(comp, "node", "left")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.col("rank"),
            F.coalesce("comp", F.col("node")).alias("comp"),
        )
    )
    out = out.localCheckpoint(eager=True)
    sym.unpersist()
    return out


# HITS fixed-point unit: scores live in int64 multiples of 1e-12.
# Post-normalization values are <= _HITS_SCALE (each score is
# raw * SCALE div total with raw <= total), so the rank tables stay
# comfortably inside int64; the raw sums and the multiply widen to
# DECIMAL(38,0) (HUGEINT in the DuckDB mirror), so no intermediate can
# overflow below ~1e26 edges.
_HITS_SCALE = 10**12


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    checkpoint_every: int = 2,
    materialize: bool = True,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) -> (node, hub, auth,
    hub_fp, auth_fp).

    Hubs point at good authorities; authorities are pointed at by good
    hubs — over a call graph, authorities are the utility symbols
    everything depends on and hubs are the orchestrator functions that
    fan out into them (a different signal from PageRank, which mixes
    the two roles into one score).

    Semantics (so any textbook implementation is an oracle):

    * edge multiplicities collapse first (``distinct``), self loops
      count for both roles;
    * per iteration: ``auth_raw(v) = sum over in-edges (u,v) of
      hub(u)`` then L1-normalize; ``hub_raw(u) = sum over out-edges
      (u,v) of auth(v)`` (the NEW auth) then L1-normalize;
    * initial hub vector is L1-uniform.

    L1 normalization (not the more common L2) is deliberate: it keeps
    the recurrence in EXACT integer fixed point — ``x * SCALE div
    total`` — with no square root, so results are bit-identical at any
    partitioning, cluster size, or engine, exactly like
    :func:`pagerank`'s recurrence.  Ranking order is identical to the
    L2-normalized variant (normalization is a positive scalar per
    vector).  Scores are int64 multiples of 1e-12 (``hub_fp`` /
    ``auth_fp``); the float columns are one exact final division.

    Each half-step is one equi-join on the edge endpoint plus one
    partial-agg shuffle, with the L1 total as a 1-row broadcast
    aggregate (an expression input, never a driver action) — the same
    2-shuffle-per-round profile as PageRank, so the 100-TB scale notes
    there carry over verbatim.  ``checkpoint_every`` defaults LOWER
    than PageRank's (2 vs 8): each half-step reads the previous score
    table twice (raw join + total aggregate), so the un-checkpointed
    plan duplicates the base subplan ~4x per iteration (vs PageRank's
    2x) — 4^8 would stall Catalyst before any executor work.
    Normalization totals stay positive for
    any non-empty edge set: every edge target has in-degree >= 1, so
    auth mass can never vanish (and hub mass follows), meaning the
    integer division is never by zero.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst")))
        .distinct()
    )
    links = e.persist()
    nodes = nodes.persist()
    n = nodes.count()  # metadata-sized: one action, reused as an int
    if n == 0:
        links.unpersist()
        nodes.unpersist()
        return nodes.select(
            F.col("node"),
            F.lit(0.0).alias("hub"),
            F.lit(0.0).alias("auth"),
            F.lit(0).cast("long").alias("hub_fp"),
            F.lit(0).cast("long").alias("auth_fp"),
        )
    hub = nodes.withColumn(
        "hub_fp", F.lit(_HITS_SCALE // n).cast("long")
    )

    def _half_step(scores: DataFrame, score_col: str, key: str,
                   other: str, out_col: str) -> DataFrame:
        """One HITS half-step: sum `score_col` over edges grouped by
        `other`, then L1-normalize into int64 `out_col`."""
        raw = (
            links.join(
                scores.select(F.col("node"), F.col(score_col)),
                links[key] == F.col("node"),
            )
            .groupBy(F.col(other).alias("node"))
            .agg(
                F.sum(F.col(score_col).cast("decimal(38,0)")).alias("raw")
            )
        )
        total = F.broadcast(
            raw.agg(
                F.coalesce(F.sum("raw"), F.lit(0))
                .cast("decimal(38,0)")
                .alias("total")
            )
        )
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(total)
            .select(
                "node",
                F.expr(
                    f"CAST((coalesce(raw, CAST(0 AS DECIMAL(38,0))) "
                    f"* {_HITS_SCALE}) div total AS LONG)"
                ).alias(out_col),
            )
        )

    # materialize=True executes inside the operator (eager checkpoint),
    # so the fixpoint execution discipline applies — same rationale as
    # pagerank: state-sized shuffle width, AQE off for the uniform
    # metadata-sized half-step shuffles
    from contextlib import nullcontext

    scope = (
        fixpoint_loop_conf(edges.sparkSession, approx_state_rows=n)
        if materialize
        else nullcontext()
    )
    with scope:
        auth = None
        for it in range(iters):
            auth = _half_step(hub, "hub_fp", "src", "dst", "auth_fp")
            hub = _half_step(auth, "auth_fp", "dst", "src", "hub_fp")
            if checkpoint_every and (it + 1) % checkpoint_every == 0 and it + 1 < iters:
                auth = truncated_checkpoint(auth)
                hub = truncated_checkpoint(hub)
        out = (
            hub.join(auth, "node")
            .select(
                "node",
                (F.col("hub_fp") / F.lit(float(_HITS_SCALE))).alias("hub"),
                (F.col("auth_fp") / F.lit(float(_HITS_SCALE))).alias("auth"),
                "hub_fp",
                "auth_fp",
            )
        )
        if materialize:
            out = out.localCheckpoint(eager=True)
    if materialize:
        links.unpersist()
        nodes.unpersist()
    else:
        from pawpaw_spark.operators.dedup import _attach_caches

        _attach_caches(out, [links, nodes])
    return out


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    length: int = 4,
    walks_per_start: int = 1,
    seed: str = "w0",
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Deterministic pseudorandom walks -> (walk_id, step, node) —
    the DeepWalk/node2vec corpus-generation primitive (walk sequences
    feed a skip-gram embedding trainer exactly like token windows do).

    Each walk starts at a node of ``starts`` (column ``node``;
    ``walks_per_start`` walks per start, ``walk_id = node || '#' || i``)
    and takes up to ``length`` steps; at each step the successor is the
    out-neighbor minimizing ``(md5(seed:walk_id:step:dst), dst)``.
    md5 of the walk-local context is a pure function of the DATA — the
    choice is uniform-ish over neighbors yet bit-identical across
    reruns, retries, partitionings, and engines (the same argument as
    sampling.epoch_shuffle_key; ``orderBy(rand())``-style choices
    silently reshuffle on task retry).  Distinct seeds give independent
    walk sets; a walk ENDS early at a node with no out-edges (rows
    simply stop — step numbers never skip).

    Per step: one equi-join of the frontier against the edge table on
    the current node plus one per-walk min-struct aggregation — the
    frontier stays exactly |walks| rows, so cost is
    O(steps x (|walks| join + agg)), never frontier-explosive like
    BFS.  Edge table persisted once; walk state is checkpointed every
    ``checkpoint_every`` steps to bound lineage for long walks.
    """
    if length < 0:
        raise ValueError("length must be >= 0")
    if walks_per_start < 1:
        raise ValueError("walks_per_start must be >= 1")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().persist()
    state = (
        starts.select(F.col("node")).distinct()
        .select(
            F.explode(
                F.array(*[F.lit(i) for i in range(walks_per_start)])
            ).alias("i"),
            F.col("node").alias("cur"),
        )
        .select(
            F.concat_ws("#", F.col("cur"), F.col("i")).alias("walk_id"),
            "cur",
        )
    )
    frames = [
        state.select(
            "walk_id", F.lit(0).cast("int").alias("step"),
            F.col("cur").alias("node"),
        )
    ]
    for s in range(1, length + 1):
        score = F.md5(
            F.concat_ws(
                ":", F.lit(seed), F.col("walk_id"), F.lit(str(s)),
                F.col("dst"),
            )
        )
        state = (
            state.join(e, state["cur"] == e["src"])
            .select("walk_id", score.alias("h"), "dst")
            .groupBy("walk_id")
            # lexicographic struct min == DuckDB min({'h':..,'d':..}):
            # the winnowing oracle already pins this cross-engine
            .agg(F.min(F.struct(F.col("h"), F.col("dst"))).alias("m"))
            .select("walk_id", F.col("m.dst").alias("cur"))
        )
        if checkpoint_every and s % checkpoint_every == 0 and s < length:
            state = truncated_checkpoint(state)
        frames.append(
            state.select(
                "walk_id", F.lit(s).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)
    out = out.localCheckpoint(eager=True)
    e.unpersist()
    return out


def walk_pairs(
    walks: DataFrame,
    window: int = 2,
    include_step: bool = False,
) -> DataFrame:
    """Walk rows (walk_id, step, node) -> skip-gram training pairs
    (center, context) — the step that turns :func:`random_walks`
    output into a node-embedding corpus (DeepWalk/node2vec train
    word2vec on exactly these pairs).

    One pair per ordered (center position, context position) with
    ``1 <= |step_center - step_context| <= window`` inside the same
    walk — a SELF equi-join on ``walk_id`` with the step-distance
    band as a residual predicate. MULTISET semantics: a context node
    reached twice contributes two pairs, exactly the frequency
    weighting skip-gram training expects (dedup would distort the
    co-occurrence distribution). Walk ids are bounded-length keys, so
    the join fan-out per key is <= (length+1) x 2*window — no skew
    regardless of graph shape. ``include_step=True`` keeps
    (step, ctx_step) for windowed-loss variants.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    a = walks.select(
        F.col("walk_id"), F.col("step"), F.col("node").alias("center")
    )
    b = walks.select(
        F.col("walk_id"),
        F.col("step").alias("ctx_step"),
        F.col("node").alias("context"),
    )
    d = F.abs(F.col("step") - F.col("ctx_step"))
    out = a.join(b, on="walk_id").filter((d >= 1) & (d <= window))
    if include_step:
        return out.select("walk_id", "step", "ctx_step", "center", "context")
    return out.select("center", "context")


def node_index(nodes: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Distinct node table -> (node, idx) with DENSE ids 0..n-1 in
    lexicographic node order — the addressable-node artifact negative
    sampling draws from. A BUILD-ONCE artifact (the IVF/PQ/BM25 index
    pattern — materialize it next to the KG store, rebuild on ingest),
    not a per-query step; sampling consumers then pay only equi-joins
    against it.

    Distributed global ranking — NOT a partition-less row_number window
    (which funnels every node through one task and caps the build at
    one executor's memory): range-partition by node, rank locally
    within each range, then add broadcast per-partition offsets
    (metadata-sized driver collect, one row per partition). The final
    (node, idx) mapping depends only on the TOTAL order of node ids,
    not on where the sampled range boundaries land, so rebuilds are
    bit-stable across partitionings and engines.
    """
    from pyspark.sql import Window

    distinct = nodes.select("node").distinct()
    if num_partitions is None:
        num_partitions = int(
            distinct.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    ranged = distinct.repartitionByRange(num_partitions, "node").withColumn(
        "_pid", F.spark_partition_id()
    )
    # Persist so the offsets job and the rank job see the SAME sampled
    # range boundaries (RangePartitioner re-samples on recompute).
    ranged = ranged.persist()
    counts = ranged.groupBy("_pid").count().collect()  # metadata: 1 row/part
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], acc))
        acc += r["count"]
    off = F.broadcast(
        distinct.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    )
    local_rank = F.row_number().over(
        Window.partitionBy("_pid").orderBy("node")
    )
    out = (
        ranged.withColumn("_rank", local_rank)
        .join(off, "_pid")
        .select("node", (F.col("_rank") - 1 + F.col("_off")).alias("idx"))
    )
    out._pawpaw_cached = ranged  # caller-owned unpersist handle
    return out


def negative_samples(
    pairs: DataFrame,
    index: DataFrame,
    k: int = 2,
    seed: str = "n0",
) -> DataFrame:
    """Skip-gram NEGATIVE samples -> (center, context, j, neg): for
    each positive (center, context) pair and j in 0..k-1, the node
    with dense index ``md5(seed:center:context:j) mod n`` in ``index``
    (:func:`node_index` output). Draws that collide with the pair's
    own endpoints are dropped (standard word2vec practice is resample;
    deterministic replay favors drop — so a pair yields UP TO k
    negatives, and the consumer's loss weighting reads the surviving
    count).

    The draw is a pure function of (seed, pair, j): bit-identical
    across reruns/retries/partitionings/engines, like
    :func:`random_walks`' successor choice. Cost: one k-fold explode
    (no shuffle) + one equi-join on idx against the metadata-sized
    index — uniform by construction, no hot keys (md5 spreads the
    join keys even when one center dominates the pairs). The mod-n
    bias over a 60-bit draw is < 2^-40 for any real n.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    n = index.count()  # metadata-sized; the index is a built artifact
    if n == 0:
        raise ValueError("node index is empty")
    drawn = (
        pairs.select("center", "context")
        .withColumn("j", F.explode(F.array(*[F.lit(i) for i in range(k)])))
        .withColumn(
            "idx",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.lit(seed), F.col("center"),
                            F.col("context"), F.col("j"),
                        )
                    ),
                    1, 15,
                ),
                16, 10,
            ).cast("long")
            % F.lit(n),
        )
    )
    return (
        drawn.join(index, "idx")
        .filter(
            (F.col("node") != F.col("center"))
            & (F.col("node") != F.col("context"))
        )
        .select(
            "center", "context", "j", F.col("node").alias("neg")
        )
    )


def modularity_terms(
    edges: DataFrame,
    communities: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity of a community assignment, as EXACT-integer
    per-community terms -> ``(community, n_nodes, in_edges, deg_sum,
    contrib)``.

    Modularity Q = sum_c [ in_c/m - (d_c / 2m)^2 ] over the canonical
    undirected simple graph (self loops dropped, duplicate/reverse
    edges collapsed — :func:`undirected_edges`), where m is the
    undirected edge count, in_c the edges internal to community c and
    d_c its degree sum. Floating-point Q depends on summation order,
    so distributed evaluation could not be checked bit-level; instead
    each community's term is returned SCALED by 4m^2::

        contrib = 4 * m * in_c - d_c^2          (an exact int64)
        Q       = sum(contrib) / (4 * m^2)      (one driver-side div)

    — the same exact-integer fixed-point discipline as pagerank/hits.
    Nodes absent from ``communities`` raise nothing here: they simply
    don't contribute (their edges count toward m only); pass a total
    assignment (e.g. label_propagation output) for textbook Q.
    Overflow headroom: contrib < 4 m^2, so int64 holds any graph with
    m < ~1.5e9 undirected edges per evaluation — beyond that, scale
    per community: the caller splits contrib into (in_c, d_c) and
    combines in DECIMAL(38,0).

    Plan shape: one distinct (the canonical edge set), one global m
    count (metadata), one degree aggregation, two broadcast-eligible
    joins of edges against the community map, one final groupBy — no
    iteration, no UDFs. Skewed communities are aggregation skew (AQE).
    """
    und = undirected_edges(edges, src_col, dst_col).persist()
    m = und.count()  # metadata-sized scalar; scales the terms
    comm = communities.select(
        F.col(node_col).alias("node"),
        F.col(community_col).alias("community"),
    ).distinct()
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    node_terms = deg.join(comm, "node").groupBy("community").agg(
        F.count("*").alias("n_nodes"),
        F.sum("deg").cast("long").alias("deg_sum"),
    )
    ca = comm.select(
        F.col("node").alias("a"), F.col("community").alias("comm_a")
    )
    cb = comm.select(
        F.col("node").alias("b"), F.col("community").alias("comm_b")
    )
    internal = (
        und.join(ca, "a")
        .join(cb, "b")
        .filter(F.col("comm_a") == F.col("comm_b"))
        .groupBy(F.col("comm_a").alias("community"))
        .agg(F.count("*").alias("in_edges"))
    )
    out = (
        node_terms.join(internal, "community", "left")
        .withColumn(
            "in_edges", F.coalesce(F.col("in_edges"), F.lit(0)).cast("long")
        )
        .select(
            "community",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            "in_edges",
            "deg_sum",
            (
                F.lit(4 * m) * F.col("in_edges")
                - F.col("deg_sum") * F.col("deg_sum")
            ).cast("long").alias("contrib"),
        )
    )
    # the persisted canonical edge set is read three times by the
    # returned plan (degrees x2, internal); the handle follows the
    # dedup.py caller-owned-release convention (cached_scope /
    # release_session_caches), so harnesses release it post-action
    from pawpaw_spark.operators.dedup import _attach_caches

    return _attach_caches(out, [und])


def betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 16,
) -> DataFrame:
    """Sampled-source Brandes betweenness centrality -> (node, bc).

    ``bc(v) = sum over sampled sources s != v of delta_s(v)``, where
    ``delta_s`` is Brandes' dependency (Brandes 2001): with ``sigma``
    the shortest-path counts from s,

        delta_s(v) = sum over shortest-path DAG successors w of v:
                     sigma_s(v) / sigma_s(w) * (1 + delta_s(w))

    Exact betweenness needs every source; the published scale path is
    SOURCE SAMPLING (Brandes & Pich 2007; Riondato & Kornaropoulos
    2014): run the same two sweeps from a sampled seed set and scale by
    n/|S| (left to the caller — the raw sampled sums are returned so
    callers control the estimator). ``max_depth`` truncates the BFS:
    paths longer than it are not counted (k-betweenness semantics);
    pass a bound >= the graph's hop diameter for the full measure —
    the forward sweep exits early once a frontier empties, so a
    generous bound costs nothing on shallow graphs.

    Scale shape — both sweeps are per-LEVEL joins, state keyed by
    (source, node):

    * forward: per level one frontier⋈edges equi-join + one (s, node)
      partial-agg (sigma sums) + one anti-join against the visited
      set; state O(sum of per-source reachable sets), the same bound
      as the all-pairs-ish closure operators, bounded by sampling;
    * backward: per level one three-way equi-join (level-(l-1) state ⋈
      edges ⋈ level-l dependencies) + one partial agg — dependencies
      flow strictly down the depth levels, so each level is visited
      once. Each level is checkpoint-truncated (the fixpoint-loop
      discipline; per-level state is uniform and metadata-sized next
      to the corpus scan that built the edges).

    Dependencies are float64 (sigma ratios are rational); on DAGs where
    every sigma is 1 (trees — the contract corpus) all deltas are small
    exact integers, so cross-engine comparison is exact there; the
    general float path is pinned by the pure-Python Brandes mirror in
    tests. Nodes never on any sampled shortest path report bc = 0.0
    (every graph node appears in the output).
    """
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .persist()
    )
    n_e = e.count()  # materializes; sizes the loop width
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    with fixpoint_loop_conf(e.sparkSession, approx_state_rows=n_e):
        lvl0 = truncated_checkpoint(
            sources.select(F.col("node")).distinct()
            .join(nodes, "node")  # absent seeds contribute nothing
            .select("node", F.col("node").alias("s"),
                    F.lit(1).cast("long").alias("sigma"))
        )
        levels = [lvl0]
        visited = lvl0  # union of levels, lazily
        for _ in range(max_depth):
            fr = levels[-1]
            nxt = (
                fr.join(e, fr["node"] == e["src"])
                .groupBy(F.col("s"), F.col("dst").alias("node"))
                .agg(F.sum("sigma").alias("sigma"))
                .join(visited.select("s", "node"), ["s", "node"], "left_anti")
            )
            nxt = truncated_checkpoint(nxt.select("node", "s", "sigma"))
            if nxt.isEmpty():
                break
            levels.append(nxt)
            visited = visited.union(nxt)
        # backward dependency sweep, deepest level first; delta starts 0
        bc = None
        delta_next = None  # (s, node, delta) at level l+1 (+1 folded in)
        for l in range(len(levels) - 1, 0, -1):
            lo, hi = levels[l - 1], levels[l]
            hi_dep = hi.select(
                "s", F.col("node").alias("w"),
                F.col("sigma").alias("sigma_w"),
            )
            if delta_next is not None:
                hi_dep = hi_dep.join(
                    delta_next.select(
                        "s", F.col("node").alias("w"),
                        F.col("delta").alias("dw"),
                    ),
                    ["s", "w"],
                    "left",
                )
            else:
                hi_dep = hi_dep.withColumn("dw", F.lit(None).cast("double"))
            contrib = (
                lo.join(e, lo["node"] == e["src"])
                .join(
                    hi_dep,
                    (F.col("dst") == F.col("w"))
                    & (lo["s"] == hi_dep["s"]),
                )
                .select(
                    lo["s"].alias("s"),
                    lo["node"].alias("node"),
                    (
                        F.col("sigma").cast("double")
                        / F.col("sigma_w").cast("double")
                        * (F.lit(1.0) + F.coalesce(F.col("dw"), F.lit(0.0)))
                    ).alias("d"),
                )
                .groupBy("s", "node")
                .agg(F.sum("d").alias("delta"))
            )
            delta_next = truncated_checkpoint(contrib)
            # sources at level 0 are excluded from their own bc sum
            part = delta_next if l > 1 else delta_next.filter(
                F.col("node") != F.col("s")
            )
            bc = part if bc is None else bc.union(part)
        if bc is not None:
            # one aggregation over the union of checkpointed per-level
            # dependency tables (flat plan, not per-level nesting)
            bc = bc.groupBy("node").agg(F.sum("delta").alias("b"))
        if bc is None:
            out = nodes.select("node", F.lit(0.0).alias("bc"))
        else:
            out = (
                nodes.join(truncated_checkpoint(bc), "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("b"), F.lit(0.0)).alias("bc"),
                )
            )
        out = truncated_checkpoint(out)
    e.unpersist()
    return out


def _node_parity(col: Column) -> Column:
    """Portable node parity: first 8 md5 hex chars mod 2 — the same
    engine-independent hash family the sampling/split operators use,
    so the pure-Python Louvain mirror replays it with hashlib."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )


def louvain(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    *,
    max_levels: int = 3,
    max_rounds: int = 8,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Deterministic distributed Louvain (Blondel et al. 2008)
    -> (node, community): modularity-ascent community detection over
    the undirected simple projection, the standard two-phase loop —
    local moves until quiet, then coarsen communities to supernodes
    (internal weight becomes a self loop) and repeat on the community
    graph.

    The published algorithm is sequential (nodes move one at a time in
    arbitrary order); this implementation fixes every such freedom so
    results are bit-identical at any parallelism/partitioning:

    * moves are SYNCHRONOUS, gated by an alternating node-parity
      schedule (round r moves only nodes with md5-parity r mod 2 — the
      standard guard against the synchronous swap oscillation, and a
      pure function of the node id);
    * a node's target is the argmax of the EXACT-integer gain score
      ``2m * k_i_in(C) - k_i * (tot(C) - [C = cur] * k_i)`` over its
      neighbor communities plus its current one (the Blondel ΔQ
      numerator scaled by 4m² — same int64 discipline and the same
      ``m < ~1.5e9`` headroom as :func:`modularity_terms`), ties to
      the smallest community id;
    * a level ends when a full parity cycle moves nothing (or
      ``max_rounds``); the algorithm ends when a level moves nothing
      (or ``max_levels``). Output community ids are canonicalized to
      the smallest member node id.

    Scale shape per round: one adjacency×assignment equi-join + two
    aggregations (all shuffling state-sized tables under
    ``fixpoint_loop_conf``, never the corpus); coarsening is one
    mapped aggregation that strictly SHRINKS the state, which is the
    property that makes Louvain the scalable community algorithm.
    Isolated nodes (no edges) do not appear in the output — as in
    :func:`modularity_terms`, their singleton communities contribute
    nothing. Diff-tested against a pure-Python mirror
    (tests/test_graph.py::TestLouvain); the one-round move kernel is
    value-checked cross-engine by the ``kg_louvain_round`` contract
    query.
    """
    if max_levels < 1 or max_rounds < 1:
        raise ValueError("max_levels and max_rounds must be >= 1")
    und = undirected_edges(edges, a_col, b_col)
    we = und.withColumn("w", F.lit(1).cast("long")).persist()
    m = we.count()
    if m == 0:
        return und.sparkSession.createDataFrame(
            [], "node string, community string"
        )
    m2 = 2 * m
    loops = we.sparkSession.createDataFrame([], "node string, lw long")
    gmap = None  # (node, community) over ORIGINAL nodes
    spark = we.sparkSession
    with fixpoint_loop_conf(spark, approx_state_rows=2 * m):
        for _level in range(max_levels):
            assign, moved = _louvain_level(
                we, loops, m2, max_rounds, checkpoint_every
            )
            gmap = (
                assign
                if gmap is None
                else gmap.join(
                    assign.select(
                        F.col("node").alias("community"),
                        F.col("community").alias("__c2"),
                    ),
                    "community",
                )
                .select("node", F.col("__c2").alias("community"))
                .localCheckpoint(eager=True)
            )
            if moved == 0:
                break
            # coarsen: communities -> supernodes; internal weight and
            # old self loops become the supernode's self loop
            ca = assign.select(F.col("node").alias("a"), F.col("community").alias("ca"))
            cb = assign.select(F.col("node").alias("b"), F.col("community").alias("cb"))
            mapped = we.join(ca, "a").join(cb, "b")
            cross = (
                mapped.filter(F.col("ca") != F.col("cb"))
                .select(
                    F.least("ca", "cb").alias("a"),
                    F.greatest("ca", "cb").alias("b"),
                    "w",
                )
                .groupBy("a", "b")
                .agg(F.sum("w").cast("long").alias("w"))
            )
            internal = mapped.filter(F.col("ca") == F.col("cb")).select(
                F.col("ca").alias("node"), F.col("w").alias("lw")
            )
            old_loops = loops.join(
                assign.select("node", "community"), "node"
            ).select(F.col("community").alias("node"), "lw")
            new_loops = (
                internal.unionByName(old_loops)
                .groupBy("node")
                .agg(F.sum("lw").cast("long").alias("lw"))
            )
            we_old = we
            we = cross.localCheckpoint(eager=True)
            loops = new_loops.localCheckpoint(eager=True)
            we_old.unpersist()
            we = we.persist()
            if we.count() == 0:
                break  # one community per component: nothing left to move
        we.unpersist()
    canon = gmap.groupBy("community").agg(F.min("node").alias("__label"))
    return gmap.join(canon, "community").select(
        "node", F.col("__label").alias("community")
    )


def _louvain_strengths(we: DataFrame, loops: DataFrame) -> DataFrame:
    """(node, k): weighted degree, self loops counting twice."""
    ends = we.select(F.col("a").alias("node"), "w").unionByName(
        we.select(F.col("b").alias("node"), "w")
    )
    return (
        ends.unionByName(loops.select("node", (2 * F.col("lw")).alias("w")))
        .groupBy("node")
        .agg(F.sum("w").cast("long").alias("k"))
    )


def louvain_move_round(
    we: DataFrame,
    loops: DataFrame,
    assign: DataFrame,
    m2: int,
    round_idx: int,
) -> DataFrame:
    """ONE synchronous parity-gated Louvain move round over a weighted
    level graph -> the new (node, community) assignment. Exposed
    separately so the move kernel is value-checkable cross-engine (the
    ``kg_louvain_round`` contract query replays round 0 in SQL); the
    level/phase LOOP is :func:`louvain`."""
    k = _louvain_strengths(we, loops)
    adj = we.select(F.col("a").alias("i"), F.col("b").alias("j"), "w").unionByName(
        we.select(F.col("b").alias("i"), F.col("a").alias("j"), "w")
    )
    a_i = assign.select(F.col("node").alias("i"), F.col("community").alias("ci"))
    a_j = assign.select(F.col("node").alias("j"), F.col("community").alias("c"))
    kiin = (
        adj.join(a_j, "j")
        .groupBy("i", "c")
        .agg(F.sum("w").cast("long").alias("kiin"))
    )
    stay0 = a_i.select("i", F.col("ci").alias("c"), F.lit(0).cast("long").alias("kiin"))
    cand = (
        kiin.unionByName(stay0)
        .groupBy("i", "c")
        .agg(F.max("kiin").alias("kiin"))
    )
    tot = (
        assign.join(k, "node")
        .groupBy("community")
        .agg(F.sum("k").cast("long").alias("tot"))
        .withColumnRenamed("community", "c")
    )
    ki = k.select(F.col("node").alias("i"), F.col("k").alias("ki"))
    scored = (
        cand.join(a_i, "i")
        .join(tot, "c")
        .join(ki, "i")
        .withColumn(
            "score",
            F.lit(int(m2)).cast("long") * F.col("kiin")
            - F.col("ki")
            * (
                F.col("tot")
                - F.when(F.col("c") == F.col("ci"), F.col("ki")).otherwise(
                    F.lit(0).cast("long")
                )
            ),
        )
    )
    choice = scored.groupBy("i").agg(
        F.min(
            F.struct((-F.col("score")).alias("ns"), F.col("c").alias("c"))
        )
        .getField("c")
        .alias("__chosen")
    )
    return (
        assign.join(choice, assign["node"] == choice["i"], "left")
        .withColumn(
            "community",
            F.when(
                (_node_parity(F.col("node")) == F.lit(round_idx % 2))
                & F.col("__chosen").isNotNull(),
                F.col("__chosen"),
            ).otherwise(F.col("community")),
        )
        .select("node", "community")
    )


def _louvain_level(
    we: DataFrame,
    loops: DataFrame,
    m2: int,
    max_rounds: int,
    checkpoint_every: int,
) -> tuple:
    """Local-move phase on one level graph -> (assignment, n_moves):
    parity-alternating move rounds until a full parity cycle is quiet
    or ``max_rounds``."""
    nodes = (
        we.select(F.col("a").alias("node"))
        .unionByName(we.select(F.col("b").alias("node")))
        .unionByName(loops.select("node"))
        .distinct()
    )
    assign = nodes.withColumn("community", F.col("node")).persist()
    assign.count()
    total_moves = 0
    quiet = 0
    for r in range(max_rounds):
        nxt = louvain_move_round(we, loops, assign, m2, r).persist()
        moves = (
            nxt.join(
                assign.withColumnRenamed("community", "__old"), "node"
            )
            .filter(F.col("community") != F.col("__old"))
            .count()
        )
        assign.unpersist()
        assign = nxt
        if checkpoint_every and (r + 1) % checkpoint_every == 0:
            assign = truncated_checkpoint(assign)
        total_moves += moves
        quiet = quiet + 1 if moves == 0 else 0
        if quiet >= 2:  # both parities quiet: the level converged
            break
    return assign, total_moves


def _oriented_triangles(und: DataFrame) -> DataFrame:
    """Triangle enumeration over a canonical undirected edge set
    -> (x, y, z), each triangle exactly once — the same degree-ordered
    orientation as :func:`triangle_count` (wedges out of the lowest
    (deg, id) corner, closed by the oriented third edge), factored out
    so edge-level consumers (k-truss support) share the plan."""
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = keyed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("vdeg"),
    )
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("vdeg").alias("d1"))
    e2 = oriented.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("vdeg").alias("d2")
    )
    wedges = e1.join(e2, e1["u"] == e2["u2"]).filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closer = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    return wedges.join(closer, ["v1", "v2"]).select(
        F.col("u").alias("x"), F.col("v1").alias("y"), F.col("v2").alias("z")
    )


def edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical undirected edge set
    -> (a, b, support): the number of triangles each edge closes, 0
    for triangle-free edges — the k-truss peeling criterion. One
    triangle enumeration + one aggregation; triangle corners map back
    to canonical (a < b) pairs with least/greatest."""
    tris = _oriented_triangles(und)

    def pair(p, q):
        return tris.select(
            F.least(p, q).alias("a"), F.greatest(p, q).alias("b")
        )

    sup = (
        pair(F.col("x"), F.col("y"))
        .unionByName(pair(F.col("x"), F.col("z")))
        .unionByName(pair(F.col("y"), F.col("z")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    return und.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def ktruss(
    edges: DataFrame,
    k: int,
    a_col: str = "src",
    b_col: str = "dst",
    *,
    max_rounds: int = 64,
) -> DataFrame:
    """The k-truss of the undirected simple projection -> its edge set
    (a, b): the maximal subgraph where every edge participates in at
    least k-2 triangles (Cohen 2008) — the edge-level cohesion
    analogue of :func:`kcore`, and the standard community-core filter
    a KG consumer runs before expensive per-community work.

    Distributed peeling: per round, one degree-ordered triangle
    enumeration over the SURVIVING edges + one support aggregation,
    then drop every edge below k-2 — all edges peel simultaneously
    (the parallel variant; the fixpoint is the same as sequential
    peeling because removing an edge never raises another's support).
    The graph strictly shrinks every non-final round, so per-round
    cost falls; state-sized shuffles run under ``fixpoint_loop_conf``.
    Deterministic trivially (no tie-breaks: the surviving set is a
    pure function of the input). Raises after ``max_rounds`` rounds
    without convergence rather than returning a half-peeled set.
    ``k <= 2`` returns the whole simple projection (every edge is a
    2-truss). Diff-tested against a pure-Python mirror
    (tests/test_graph.py::TestKtruss); the round-0 support kernel is
    value-checked in SQL by the ``kg_truss_support`` contract query.
    """
    und = undirected_edges(edges, a_col, b_col).persist()
    m = und.count()
    if k <= 2 or m == 0:
        return und
    spark = edges.sparkSession
    with fixpoint_loop_conf(spark, approx_state_rows=m):
        cur, n_cur = und, m
        for _ in range(max_rounds):
            keep = (
                edge_support(cur)
                .filter(F.col("support") >= k - 2)
                .select("a", "b")
                .localCheckpoint(eager=True)
            )
            n_keep = keep.count()
            cur.unpersist()
            cur = keep.persist()
            if n_keep == n_cur:
                return cur
            n_cur = n_keep
            if n_cur == 0:
                return cur
    raise RuntimeError(
        f"ktruss did not converge in {max_rounds} rounds "
        f"({n_cur} edges remaining)"
    )


def biased_walks(
    edges: DataFrame,
    starts: DataFrame,
    length: int = 4,
    *,
    w_return: int = 1,
    w_common: int = 1,
    w_far: int = 1,
    walks_per_start: int = 1,
    seed: str = "n2v0",
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 8,
) -> DataFrame:
    """node2vec-style SECOND-ORDER biased walks -> (walk_id, step,
    node): like :func:`random_walks`, but the successor distribution
    depends on the PREVIOUS node (Grover & Leskovec 2016) — candidates
    weight ``w_return`` when stepping back to the previous node,
    ``w_common`` when the candidate is also an out-neighbor of the
    previous node (BFS-ish, node2vec's alpha=1), ``w_far`` otherwise
    (DFS-ish). node2vec's (1/p, 1, 1/q) parametrization is these
    weights up to scaling, so INTEGER weights lose no generality
    (p=4, q=0.25 == w_return=1, w_common=4, w_far=16) and buy exact
    cross-engine replay: the choice is cumulative-integer-weight
    selection at ``md5(seed:walk:step) mod total_weight`` over
    dst-sorted candidates — no float sampling, no platform log/pow,
    bit-identical anywhere (modulo bias is < 1e-9 for the 32-bit hash
    against walk-local weight totals; the same trade
    sampling.deterministic_sample documents for its hex threshold).

    Per step: one frontier-edge equi-join (successor candidates), one
    left semi-style marker join against (prev -> dst) edges for the
    common-neighbor class, one per-walk window (cumulative weights
    over |walks| x out-degree rows — walk-state-sized, never the
    graph). Step 1 has no previous node: every candidate weighs
    ``w_common``, reproducing random_walks' uniform first hop. Walks
    end early at sinks. First-order uniform walks remain
    :func:`random_walks` (one aggregation per step, no window, no
    marker join) — use it unless second-order bias is wanted.
    Diff-tested against a pure-Python mirror
    (tests/test_graph.py::TestBiasedWalks); the ``kg_node2vec``
    contract query replays the full recurrence, step-unrolled, in SQL.
    """
    if length < 0:
        raise ValueError("length must be >= 0")
    if min(w_return, w_common, w_far) < 1:
        raise ValueError("weights must be integers >= 1")
    if walks_per_start < 1:
        raise ValueError("walks_per_start must be >= 1")
    from pyspark.sql import Window

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().persist()
    marker = e.select(
        F.col("src").alias("prev"), F.col("dst").alias("dst"),
        F.lit(1).alias("__common"),
    )
    state = (
        starts.select(F.col("node")).distinct()
        .select(
            F.explode(
                F.array(*[F.lit(i) for i in range(walks_per_start)])
            ).alias("i"),
            F.col("node").alias("cur"),
        )
        .select(
            F.concat_ws("#", F.col("cur"), F.col("i")).alias("walk_id"),
            F.lit(None).cast(starts.schema["node"].dataType).alias("prev"),
            "cur",
        )
    )
    frames = [
        state.select(
            "walk_id", F.lit(0).cast("int").alias("step"),
            F.col("cur").alias("node"),
        )
    ]
    for s in range(1, length + 1):
        cands = (
            state.join(e, state["cur"] == e["src"])
            .select("walk_id", "prev", "cur", "dst")
            .join(marker, ["prev", "dst"], "left")
        )
        w = (
            F.when(F.col("prev").isNull(), F.lit(w_common))
            .when(F.col("dst") == F.col("prev"), F.lit(w_return))
            .when(F.col("__common").isNotNull(), F.lit(w_common))
            .otherwise(F.lit(w_far))
            .cast("long")
        )
        win = Window.partitionBy("walk_id").orderBy("dst")
        hrow = (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(seed), F.col("walk_id"),
                                      F.lit(str(s)))),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
        )
        scored = cands.select(
            "walk_id", "cur", "dst",
            w.alias("w"),
            (F.sum(w).over(win) - w).alias("cum"),
            F.sum(w).over(
                Window.partitionBy("walk_id").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("total"),
            hrow.alias("h"),
        )
        state = scored.filter(
            ((F.col("h") % F.col("total")) >= F.col("cum"))
            & ((F.col("h") % F.col("total")) < F.col("cum") + F.col("w"))
        ).select(
            "walk_id", F.col("cur").alias("prev"), F.col("dst").alias("cur")
        )
        if checkpoint_every and s % checkpoint_every == 0 and s < length:
            state = truncated_checkpoint(state)
        frames.append(
            state.select(
                "walk_id", F.lit(s).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)
    out = out.localCheckpoint(eager=True)
    e.unpersist()
    return out


def graph_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    digits: int = 6,
) -> DataFrame:
    """One-row KG health summary over a directed edge table:
    ``(n_nodes, n_edges, n_self_loops, n_mutual, reciprocity,
    max_out_deg, max_in_deg, assortativity)``.

    * ``n_mutual`` / ``reciprocity``: edges whose reverse also exists
      (self-loops are trivially mutual and count as such — the standard
      digraph reciprocity definition), found with ONE self-semi-join on
      the reversed pair — never an O(n²) comparison.
    * ``assortativity``: the out-in degree assortativity — Pearson
      correlation, over edges, of (out-degree of source, in-degree of
      target). Positive = hubs call hubs; negative = hubs call leaves.
      Computed from EXACT integer sums with one final try_divide, so
      the value is deterministic at any partitioning (NULL on a zero-
      variance degree sequence); rounded with ``reciprocity`` to a
      shared 1e-6 grid for cross-engine comparison.

    Scale shape: one distinct projection feeds everything; degrees are
    two partial-combine aggregations; the per-edge degree attachment is
    two equi-joins on the endpoint (the degree tables are node-sized);
    the final assembly cross-joins ONE-ROW aggregates (driver-literal
    sized by construction). No driver data collection.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = e.join(rev, ["src", "dst"], "semi")
    deg_out = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    deg_in = e.groupBy("dst").agg(F.count("*").alias("in_deg"))
    per_edge = e.join(deg_out, "src").join(deg_in, "dst")
    base = e.agg(
        F.count("*").alias("n_edges"),
        F.sum((F.col("src") == F.col("dst")).cast("long")).alias(
            "n_self_loops"
        ),
    )
    return (
        base.crossJoin(nodes.agg(F.count("*").alias("n_nodes")))
        .crossJoin(mutual.agg(F.count("*").alias("n_mutual")))
        .crossJoin(
            # Pearson from EXACT integer sums (degrees are longs), one
            # try_divide at the end: deterministic at any partitioning,
            # NULL (not an ANSI divide-by-zero) when a degree sequence
            # has zero variance, and bit-reproducible in the oracle
            per_edge.agg(
                F.max("out_deg").alias("max_out_deg"),
                F.max("in_deg").alias("max_in_deg"),
                F.count("*").alias("__n"),
                F.sum("out_deg").alias("__sx"),
                F.sum("in_deg").alias("__sy"),
                F.sum(F.col("out_deg") * F.col("in_deg")).alias("__sxy"),
                F.sum(F.col("out_deg") * F.col("out_deg")).alias("__sxx"),
                F.sum(F.col("in_deg") * F.col("in_deg")).alias("__syy"),
            )
        )
        .withColumn(
            "assortativity",
            F.round(
                F.try_divide(
                    (
                        F.col("__n") * F.col("__sxy")
                        - F.col("__sx") * F.col("__sy")
                    ).cast("double"),
                    F.sqrt(
                        (
                            F.col("__n") * F.col("__sxx")
                            - F.col("__sx") * F.col("__sx")
                        ).cast("double")
                    )
                    * F.sqrt(
                        (
                            F.col("__n") * F.col("__syy")
                            - F.col("__sy") * F.col("__sy")
                        ).cast("double")
                    ),
                ),
                digits,
            ),
        )
        .select(
            "n_nodes",
            "n_edges",
            "n_self_loops",
            "n_mutual",
            F.round(
                F.col("n_mutual").cast("double") / F.col("n_edges"), digits
            ).alias("reciprocity"),
            "max_out_deg",
            "max_in_deg",
            "assortativity",
        )
    )


TRIAD_TYPES = (
    "003", "012", "102", "021D", "021U", "021C", "111D", "111U",
    "030T", "030C", "201", "120D", "120U", "120C", "210", "300",
)


def triad_census(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    include_disconnected: bool = True,
) -> DataFrame:
    """Full Holland-Leinhardt triad census -> ONE row with the 16
    directed-triad class counts (Batagelj & Mrvar 2001 accounting:
    enumerate only the CONNECTED triads, recover the disconnected
    classes by exact counting identities — never C(n,3) work).

    Conventions (the statnet/Holland-Leinhardt MAN labels):
    ``D``/``U`` = the two asymmetric arcs leave / enter the focal node
    (021: the wedge center; 120: the node outside the mutual dyad);
    ``C`` = chain/cycle; 111``D``/``U`` = the asymmetric arc enters /
    leaves the mutual-dyad member; 030``T``/``C`` = transitive /
    cyclic. Self-loops are dropped (triads are over distinct nodes).

    Mechanics: canonical dyads (one row per unordered linked pair with
    mutual flag + direction) -> open wedges = adjacency self-join +
    anti-join against the dyads (each 2-dyad triad has exactly one
    center, so it is enumerated once) -> triangles via the shared
    degree-ordered :func:`_oriented_triangles` enumeration (each once)
    -> class counts by pure column logic on the carried dyad flags.
    The disconnected classes follow exactly:
    ``102 = m·(n-2) − (mutual-dyad incidences in connected triads)``,
    ``012 = a·(n-2) − (asym incidences)``, ``003 = C(n,3) − rest``.

    Scale shape: dyad build = one partial-combine aggregation; wedges
    and triangles are equi-joins on node ids (the same shapes
    triangle_count/k-truss run at scale); the assembly cross-joins
    ONE-ROW aggregates. ``include_disconnected=False`` skips the
    003/012/102 columns — their identities overflow int64 beyond
    ~2.4M nodes (C(n,3) bound), and at corpus scale the connected
    census is the informative part.
    """
    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    dy = (
        e.select(
            F.least("s", "d").alias("a"),
            F.greatest("s", "d").alias("b"),
            (F.col("s") < F.col("d")).alias("isf"),
        )
        .groupBy("a", "b")
        .agg(
            F.max(F.col("isf")).alias("has_f"),
            F.max(~F.col("isf")).alias("has_b"),
        )
        .select(
            "a", "b",
            (F.col("has_f") & F.col("has_b")).alias("m"),
            "has_f", "has_b",
        )
    )
    und = dy.select("a", "b")
    adj = dy.select(
        F.col("a").alias("c"), F.col("b").alias("n"),
        "m", F.col("has_f").alias("out"),
    ).unionByName(
        dy.select(
            F.col("b").alias("c"), F.col("a").alias("n"),
            "m", F.col("has_b").alias("out"),
        )
    )
    a1 = adj.select(
        "c", F.col("n").alias("n1"), F.col("m").alias("m1"),
        F.col("out").alias("o1"),
    )
    a2 = adj.select(
        "c", F.col("n").alias("n2"), F.col("m").alias("m2"),
        F.col("out").alias("o2"),
    )
    open_w = (
        a1.join(a2, "c")
        .filter(F.col("n1") < F.col("n2"))
        .join(
            und.select(F.col("a").alias("n1"), F.col("b").alias("n2")),
            ["n1", "n2"],
            "anti",
        )
    )
    wcls = (
        F.when(F.col("m1") & F.col("m2"), F.lit("201"))
        .when(
            F.col("m1") | F.col("m2"),
            # the asymmetric arm's arc: leaving the center (a mutual-
            # dyad member) -> 111U, entering it -> 111D
            F.when(
                F.when(F.col("m1"), F.col("o2")).otherwise(F.col("o1")),
                F.lit("111U"),
            ).otherwise(F.lit("111D")),
        )
        .when(F.col("o1") & F.col("o2"), F.lit("021D"))
        .when(~F.col("o1") & ~F.col("o2"), F.lit("021U"))
        .otherwise(F.lit("021C"))
    )
    w_types = ("201", "111D", "111U", "021D", "021U", "021C")
    wstats = open_w.agg(
        *[
            F.coalesce(F.sum((wcls == t).cast("long")), F.lit(0)).alias(
                f"c_{t}"
            )
            for t in w_types
        ],
        F.coalesce(
            F.sum(F.col("m1").cast("long") + F.col("m2").cast("long")),
            F.lit(0),
        ).alias("wm_inc"),
        F.coalesce(F.count("*"), F.lit(0)).alias("n_open_w"),
    )
    tris = _oriented_triangles(und)
    t = tris
    for p, q, sfx in (("x", "y", "xy"), ("x", "z", "xz"), ("y", "z", "yz")):
        look = dy.select(
            F.col("a").alias(f"_a{sfx}"),
            F.col("b").alias(f"_b{sfx}"),
            F.col("m").alias(f"m{sfx}"),
            F.col("has_f").alias(f"f{sfx}"),
        )
        t = t.join(
            look,
            (F.least(F.col(p), F.col(q)) == F.col(f"_a{sfx}"))
            & (F.greatest(F.col(p), F.col(q)) == F.col(f"_b{sfx}")),
        )

    def arr(p, q, sfx):
        # arc p -> q exists (meaningful for asymmetric dyads; mutual
        # dyads never consult it)
        return F.when(F.col(p) < F.col(q), F.col(f"f{sfx}")).otherwise(
            ~F.col(f"f{sfx}")
        )

    m3 = (
        F.col("mxy").cast("long")
        + F.col("mxz").cast("long")
        + F.col("myz").cast("long")
    )

    def cls120(to1, to2):
        # to1/to2: arcs from the outside-the-dyad node toward the two
        # mutual-dyad members — both out -> D, both in -> U, else C
        return (
            F.when(to1 & to2, F.lit("120D"))
            .when(~to1 & ~to2, F.lit("120U"))
            .otherwise(F.lit("120C"))
        )

    outdeg_x = arr("x", "y", "xy").cast("long") + arr("x", "z", "xz").cast(
        "long"
    )
    outdeg_y = arr("y", "x", "xy").cast("long") + arr("y", "z", "yz").cast(
        "long"
    )
    tcls = (
        F.when(m3 == 3, F.lit("300"))
        .when(m3 == 2, F.lit("210"))
        .when(
            m3 == 1,
            F.when(
                F.col("mxy"),
                cls120(arr("z", "x", "xz"), arr("z", "y", "yz")),
            )
            .when(
                F.col("mxz"),
                cls120(arr("y", "x", "xy"), arr("y", "z", "yz")),
            )
            .otherwise(
                cls120(arr("x", "y", "xy"), arr("x", "z", "xz"))
            ),
        )
        .otherwise(
            F.when(
                (outdeg_x == 1) & (outdeg_y == 1), F.lit("030C")
            ).otherwise(F.lit("030T"))
        )
    )
    t_types = ("300", "210", "120D", "120U", "120C", "030T", "030C")
    tstats = t.agg(
        *[
            F.coalesce(F.sum((tcls == ty).cast("long")), F.lit(0)).alias(
                f"c_{ty}"
            )
            for ty in t_types
        ],
        F.coalesce(F.sum(m3), F.lit(0)).alias("tm_inc"),
        F.coalesce(F.count("*"), F.lit(0)).alias("n_tri"),
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
    )
    scal = nodes.agg(F.count("*").alias("n")).crossJoin(
        dy.agg(
            F.coalesce(
                F.sum(F.col("m").cast("long")), F.lit(0)
            ).alias("md"),
            F.coalesce(
                F.sum((~F.col("m")).cast("long")), F.lit(0)
            ).alias("ad"),
        )
    )
    row = scal.crossJoin(wstats).crossJoin(tstats)
    wa_inc = (
        F.lit(2) * F.col("n_open_w") - F.col("wm_inc")
    )
    ta_inc = F.lit(3) * F.col("n_tri") - F.col("tm_inc")
    c102 = F.col("md") * (F.col("n") - 2) - F.col("tm_inc") - F.col("wm_inc")
    c012 = F.col("ad") * (F.col("n") - 2) - ta_inc - wa_inc
    connected = [F.col(f"c_{ty}") for ty in w_types + t_types]
    # C(n,3) in EXACT long arithmetic (integer div, never a double):
    # n(n-1) is even, and n(n-1)/2 * (n-2) is divisible by 3
    total = F.expr("(n * (n - 1) div 2) * (n - 2) div 3")
    c003 = total - sum(connected[1:], connected[0]) - c102 - c012
    out_cols = []
    for ty in TRIAD_TYPES:
        if ty == "003":
            col = c003
        elif ty == "012":
            col = c012
        elif ty == "102":
            col = c102
        else:
            col = F.col(f"c_{ty}")
        if ty in ("003", "012", "102") and not include_disconnected:
            continue
        out_cols.append(col.cast("long").alias(f"t{ty}"))
    return row.select(*out_cols)


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    time_col: str = "t",
    max_rounds: int = 30,
) -> DataFrame:
    """Time-respecting reachability -> ``(node, earliest)``: the
    minimum arrival time over temporal paths whose hop times are
    non-decreasing and start no earlier than the seed time (the
    non-strict temporal-path semantics of Pan & Saramäki 2011).
    ``seeds`` is a DataFrame ``(node, t)`` — arrival at a node at time
    t allows taking any out-edge with ``time >= t``; the KG use:
    "which symbols could a change landing at commit-time T have
    influenced through the time-ordered call/commit graph".

    Earliest-arrival is a monotone fixpoint: the state (one min time
    per reached node) only ever decreases, so the loop is
    :func:`pawpaw_spark.session.relax` with the message ``t`` (kept
    only when ``t >= earliest`` of the edge's source) and ``min``. A
    late improvement re-sends from the improved node in the next
    round. Round count is the longest IMPROVING temporal path in hops,
    plus one; ``max_rounds`` guards pathological inputs and RAISES
    rather than returning mid-relaxation times. Arrival times are exact
    values from the input, so results are bit-identical on any cluster
    size — the contract oracle is a DuckDB recursive CTE over the same
    edge set (its state space is finite because (node, time) pairs
    are).
    """
    with _loop_edges(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(time_col).alias("t"),
        ).distinct()
    ) as e:
        seen = truncated_checkpoint(
            seeds.groupBy("node").agg(F.min("t").alias("val"))
        )
        return relax(
            seen, e, F.when(F.col("t") >= F.col("val"), F.col("t")), "min",
            max_rounds, "temporal_reachability",
            "rounds needed = hops on the longest improving temporal path, "
            "plus one",
        ).withColumnRenamed("val", "earliest")


def shortest_path_tree(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 8,
) -> DataFrame:
    """Multi-source BFS tree -> ``(node, depth, parent)``: shortest
    directed hop distance from any seed plus ONE deterministic
    predecessor per reached node — ``parent`` = the MINIMUM node id
    among the depth-(d-1) nodes with an edge into it (seeds have NULL).
    Following parent pointers yields an explicit shortest path — the
    KG explain surface ("HOW does f reach g"), where
    :func:`reachability` answers only "does it". Nodes deeper than
    ``max_depth`` are absent.

    The min-parent tie-break makes the whole tree a pure function of
    the graph: bit-identical at any parallelism or engine (the oracle
    recomputes it from the recursive-CTE level table).

    The BFS is :func:`pawpaw_spark.session.semi_naive` keyed on
    ``node``: round ``r`` joins the frontier (the last level) with the
    edges and takes ``min(src)`` per ``dst`` at depth ``r + 1``, and the
    anti-join against the visited set keeps the first level that
    reaches a node. The depth cap belongs to the query, so the step
    stops at ``max_depth`` and the BFS truncates instead of raising.
    """
    if max_depth < 0:
        raise ValueError("max_depth must be >= 0")

    with _loop_edges(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    ) as e:

        def step(frontier, _seen, r):
            if r == max_depth:
                return None
            return (
                e.join(frontier, F.col("src") == F.col("node"))
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("src").alias("parent"))
                .select("node", F.lit(r + 1).cast("long").alias("depth"),
                        "parent")
            )

        seen = truncated_checkpoint(
            seeds.select("node").distinct().select(
                "node",
                F.lit(0).cast("long").alias("depth"),
                F.lit(None).cast("string").alias("parent"),
            )
        )
        tree, _ = semi_naive(
            seen, seen, step, ("node",), max_depth + 1, "shortest_path_tree",
            "the depth cap ends the BFS first",
        )
        return tree


def conductance(
    edges: DataFrame,
    assignment: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    comm_col: str = "community",
    digits: int = 6,
) -> DataFrame:
    """Per-community conductance over the UNDIRECTED support of a
    directed edge table -> ``(community, n_nodes, internal_edges,
    cut_edges, volume, conductance)`` with
    ``phi = cut / min(vol, total_vol - vol)`` — the standard partition
    quality metric (low = well-separated module), the natural QA for
    :func:`louvain` / :func:`label_propagation` output.

    Exact-integer accounting: ``vol = 2·internal + cut`` (handshake
    over the member degrees), ``total_vol = 2·|support|``, one final
    try_divide + round — deterministic at any partitioning, NULL for a
    community that IS the whole volume complement-less case. One dyad
    build + two endpoint equi-joins + one aggregation; nodes missing
    from ``assignment`` raise (a silent drop would fake low cuts).
    """
    und = (
        edges.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    am = assignment.select(
        F.col(node_col).alias("a"), F.col(comm_col).alias("__ca")
    )
    bm = assignment.select(
        F.col(node_col).alias("b"), F.col(comm_col).alias("__cb")
    )
    tagged = und.join(am, "a", "left").join(bm, "b", "left")
    n_unassigned = tagged.filter(
        F.col("__ca").isNull() | F.col("__cb").isNull()
    ).count()
    if n_unassigned:
        raise ValueError(
            f"{n_unassigned} support edge(s) touch nodes missing from "
            f"the assignment — assign every node (a silent drop would "
            f"understate cuts)"
        )
    internal = (
        tagged.filter(F.col("__ca") == F.col("__cb"))
        .groupBy(F.col("__ca").alias(comm_col))
        .agg(F.count("*").alias("internal_edges"))
    )
    cut = (
        tagged.filter(F.col("__ca") != F.col("__cb"))
        .select(F.col("__ca").alias(comm_col))
        .unionByName(
            tagged.filter(F.col("__ca") != F.col("__cb")).select(
                F.col("__cb").alias(comm_col)
            )
        )
        .groupBy(comm_col)
        .agg(F.count("*").alias("cut_edges"))
    )
    sizes = assignment.groupBy(
        F.col(comm_col)
    ).agg(F.count("*").alias("n_nodes"))
    total_vol = und.count() * 2
    out = (
        sizes.join(internal, comm_col, "left")
        .join(cut, comm_col, "left")
        .select(
            comm_col,
            "n_nodes",
            F.coalesce("internal_edges", F.lit(0)).alias("internal_edges"),
            F.coalesce("cut_edges", F.lit(0)).alias("cut_edges"),
        )
        .withColumn(
            "volume",
            F.lit(2) * F.col("internal_edges") + F.col("cut_edges"),
        )
        .withColumn(
            "conductance",
            F.round(
                F.try_divide(
                    F.col("cut_edges").cast("double"),
                    F.least(
                        F.col("volume"),
                        F.lit(total_vol) - F.col("volume"),
                    ).cast("double"),
                ),
                digits,
            ),
        )
    )
    return out


def wl_colors(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement -> ``(node,
    color)`` after ``rounds`` iterations: round-(k+1) color =
    md5(own color ‖ sorted multiset of direction-tagged neighbor
    colors). Round 0 is the uniform color, so round 1 encodes the
    (in, out) degree pair, round 2 the degree profile of the
    neighborhood, and so on — the standard structural fingerprint
    (two nodes with different WL colors are provably non-isomorphic
    in their rooted neighborhoods; equal colors = same k-hop
    structural role). KG uses: structural-role clustering of symbols,
    candidate pruning for graph matching, change detection between
    snapshot graphs (compare color histograms).

    Deterministic by construction: the neighbor multiset is SORTED
    before hashing and md5 is engine-portable, so colors are
    bit-identical at any parallelism and in the DuckDB oracle (which
    replays the rounds with string_agg(... ORDER BY ...)).

    Scale shape per round: two equi-joins (one per direction tag,
    colors are node-sized) + one sort_array/collect_list aggregation —
    the same message-passing cost as a PageRank round; ``rounds`` is
    always a small constant (WL stabilizes in diameter-ish rounds).
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    colors = nodes.withColumn("color", F.md5(F.lit("wl0")))
    try:
        for _ in range(rounds):
            cin = colors.select(
                F.col("node").alias("src"), F.col("color").alias("__c")
            )
            out_msgs = (
                e.join(cin, "src")
                .select(
                    F.col("dst").alias("node"),
                    F.concat(F.lit("i:"), F.col("__c")).alias("msg"),
                )
            )
            cdst = colors.select(
                F.col("node").alias("dst"), F.col("color").alias("__c")
            )
            in_msgs = (
                e.join(cdst, "dst")
                .select(
                    F.col("src").alias("node"),
                    F.concat(F.lit("o:"), F.col("__c")).alias("msg"),
                )
            )
            msgs = out_msgs.unionByName(in_msgs).groupBy("node").agg(
                F.array_join(
                    F.sort_array(F.collect_list("msg")), ","
                ).alias("__sig")
            )
            colors = (
                colors.join(msgs, "node", "left")
                .select(
                    "node",
                    F.md5(
                        F.concat(
                            F.col("color"),
                            F.lit("|"),
                            F.coalesce(F.col("__sig"), F.lit("")),
                        )
                    ).alias("color"),
                )
                .localCheckpoint(eager=True)
            )
        return colors
    finally:
        e.unpersist()


def katz_centrality(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    beta_den: int = 8,
    max_len: int = 3,
) -> DataFrame:
    """Truncated Katz centrality (Katz 1953) in EXACT integer
    arithmetic -> (node, katz_num): ``katz(v) = sum_{k=1..K}
    walks_k(v) * beta^k`` with attenuation ``beta = 1/beta_den``,
    returned SCALED by ``beta_den^K`` so ``katz_num = sum_k walks_k(v)
    * beta_den^(K-k)`` is an int64 — no float summation order can
    perturb ranks at any partitioning or engine (the pagerank
    fixed-point-int discipline).  ``walks_k(v)`` counts directed walks
    of length k ENDING at v over the distinct edge set (self-loops
    legitimately contribute — truncation keeps them finite); nodes no
    walk reaches score 0 and are still emitted.

    Why truncated rather than the (I - beta*A)^-1 series: at KG scale
    the resolvent needs either a linear solve or convergence-loop
    float iteration; the K-truncated form is the standard scalable
    variant, K joins of edge-linear work, and stays exact.

    Overflow bound: ``katz_num <= beta_den^(K-1) * sum_k walks_k``,
    and walks_k <= |E| * d_max^(k-1) — far inside int64 for the
    defaults (K=3, den=8) on graphs whose max in-degree is < ~10^4;
    raise ``beta_den``/``max_len`` only with that bound in mind.

    Scale shape: per length step ONE (src=node) equi-join of the
    node-sized walk vector against the edge table + one partial-agg
    sum keyed by dst, checkpoint-truncated; the accumulator union is
    node-sized.  No driver collection, no loop-to-convergence.
    """
    if beta_den < 2:
        raise ValueError("beta_den must be >= 2 (beta must attenuate)")
    if max_len < 1:
        raise ValueError("max_len must be >= 1")
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .distinct()
        .persist()
    )
    try:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        frontier = nodes.select("node", F.lit(1).cast("long").alias("c"))
        parts = []
        for k in range(1, max_len + 1):
            frontier = truncated_checkpoint(
                frontier.alias("f")
                .join(e.alias("g"), F.col("f.node") == F.col("g.src"))
                .groupBy(F.col("g.dst").alias("node"))
                .agg(F.sum(F.col("f.c")).cast("long").alias("c"))
            )
            scale = beta_den ** (max_len - k)
            parts.append(
                frontier.select("node", (F.col("c") * F.lit(scale)).alias("s"))
            )
        acc = parts[0]
        for p in parts[1:]:
            acc = acc.union(p)
        scored = acc.groupBy("node").agg(
            F.sum("s").cast("long").alias("katz_num")
        )
        return nodes.join(scored, "node", "left").select(
            "node", F.coalesce("katz_num", F.lit(0)).cast("long").alias("katz_num")
        )
    finally:
        e.unpersist()


def butterfly_count(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    max_hub_deg: int | None = None,
) -> DataFrame:
    """Wedge and butterfly (4-cycle / C4) counts over the undirected
    simple projection -> ONE row (n_wedges, n_butterflies).  The
    butterfly is THE motif of bipartite graphs (author-paper,
    user-item, file-symbol) where triangles cannot exist — counting
    follows the standard wedge aggregation (Wang et al. 2019,
    "Vertex Priority Based Butterfly Counting"): for every endpoint
    pair (a < b), c = #common neighbors, sum C(c, 2) — and HALVE,
    because every 4-cycle is seen from both of its diagonal pairs —
    computed as one wedge self-join + one pair aggregation + one
    global sum, all EXACT int64 (sum c*(c-1) = 4x the butterfly count
    exactly, so one integer division by 4 at the end).

    ``max_hub_deg`` drops nodes above that degree from the wedge
    MIDDLE position only — the same C(deg, 2) fan-out guard as
    :func:`link_prediction`; leave None for exact counts when the
    degree distribution is known bounded.

    Scale shape: the wedge join is the only super-linear step and is
    bounded by sum-of-C(deg,2); everything after is a (pair)-keyed
    partial aggregation collapsing to one row.  No driver collection.
    """
    und = undirected_edges(edges, a_col, b_col)
    adj = und.selectExpr("a as node", "b as nbr").union(
        und.selectExpr("b as node", "a as nbr")
    )
    mid = adj
    if max_hub_deg is not None:
        deg = adj.groupBy("node").agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        mid = adj.join(
            deg.filter(F.col("deg") <= max_hub_deg), "node"
        ).select("node", "nbr")
    w1 = mid.select(F.col("node").alias("w"), F.col("nbr").alias("pa"))
    w2 = mid.select(F.col("node").alias("w"), F.col("nbr").alias("pb"))
    pairs = (
        w1.join(w2, "w")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return pairs.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_wedges"),
        (F.coalesce(F.sum(F.col("c") * (F.col("c") - 1)), F.lit(0)) / 4)
        .cast("long")
        .alias("n_butterflies"),
    )


def four_clique_count(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    materialize: bool = True,
) -> DataFrame:
    """Per-node 4-clique (K4) membership count -> (node, n_k4), one
    row for EVERY node of the undirected simple projection (0 for
    nodes in no K4).

    Chiba-Nishizeki-style oriented enumeration on top of the
    :func:`triangle_count` degree orientation: with every edge directed
    lower-(deg, id) -> higher, a K4 {a < b < c < d} is enumerated
    EXACTLY once — its least triangle (a, b, c) extended by the
    oriented edge c -> d, closed by the two remaining oriented edges
    b -> d and a -> d.  Join shape: the triangle table fans out by
    out-deg(c) <= O(sqrt(m)) (the orientation bound — hubs collect
    IN-edges, so hot nodes cap the fan-out rather than squaring it),
    then two hash equi-joins on (node, node) pairs check the closing
    edges.  Everything is a declarative equi-join; nothing quadratic
    in a neighborhood anywhere.
    """
    und = undirected_edges(edges, a_col, b_col).persist()
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = keyed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("vdeg"),
    ).persist()
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("vdeg").alias("d1"))
    e2 = oriented.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("vdeg").alias("d2")
    )
    wedges = e1.join(e2, e1["u"] == e2["u2"]).filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closer = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    # oriented triangles (x, y, z), x < y < z in the (deg, id) order
    tris = wedges.join(closer, ["v1", "v2"]).select(
        F.col("u").alias("x"), F.col("v1").alias("y"), F.col("v2").alias("z")
    )
    # extend by z -> w, then close y -> w and x -> w
    ext = oriented.select(F.col("u").alias("z"), F.col("v").alias("w"))
    cand = tris.join(ext, "z")
    close_yw = oriented.select(
        F.col("u").alias("y"), F.col("v").alias("w")
    )
    close_xw = oriented.select(
        F.col("u").alias("x"), F.col("v").alias("w")
    )
    k4 = cand.join(close_yw, ["y", "w"]).join(close_xw, ["x", "w"])
    per_node = (
        k4.select(F.col("x").alias("node"))
        .union(k4.select(F.col("y")))
        .union(k4.select(F.col("z")))
        .union(k4.select(F.col("w")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_k4"))
    )
    out = (
        deg.select("node")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("n_k4", F.lit(0)).cast("long").alias("n_k4"),
        )
    )
    if materialize:
        out = out.localCheckpoint(eager=True)
        und.unpersist()
        deg.unpersist()
        oriented.unpersist()
    else:
        from pawpaw_spark.operators.dedup import _attach_caches

        _attach_caches(out, [und, deg, oriented])
    return out


def neighborhood_agg(
    edges: DataFrame,
    features: DataFrame,
    rounds: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    feat_col: str = "feat",
) -> DataFrame:
    """K rounds of sum message passing -> (node, feat): each round
    every node's feature becomes ``own + sum(features of in-neighbors
    over the DISTINCT edge set)`` — the GraphSAGE/GCN sum-convolution
    skeleton on exact int64 features, the deterministic core a
    feature-engineering pipeline runs before any learned weights (and
    the k-hop structural fingerprint: with all-ones init, round k
    counts <=k-length in-paths).

    Exact integers at any parallelism — no floats, so no summation-
    order wobble; values grow like (1 + max_in_degree)^rounds, the
    caller's overflow budget (int64 holds deg 100 to round 9).
    Per round ONE join + ONE partial-agg shuffle, state checkpointed
    under fixpoint_loop_conf: the plan every bulk-synchronous vertex
    program compiles to.  Nodes present in ``features`` but isolated
    keep their feature; edge endpoints missing from ``features``
    contribute nothing (no implicit zero rows are invented).
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .distinct()
        .persist()
    )
    n_e = e.count()
    state = features.select(
        F.col(node_col).alias("node"),
        F.col(feat_col).cast("long").alias("feat"),
    )
    try:
        with fixpoint_loop_conf(edges.sparkSession, approx_state_rows=n_e):
            state = truncated_checkpoint(state)
            for _ in range(rounds):
                inc = (
                    e.join(state, e["s"] == state["node"])
                    .select(F.col("d").alias("node"), "feat")
                    .groupBy("node")
                    .agg(F.sum("feat").alias("_in"))
                )
                state = truncated_checkpoint(
                    state.join(inc, "node", "left").select(
                        "node",
                        (
                            F.col("feat") + F.coalesce("_in", F.lit(0))
                        ).alias("feat"),
                    )
                )
    finally:
        e.unpersist()
    return state
