"""Segments -> (subj, pred, obj) triples + node table.

Triple vocabulary (BASELINE.json north_star):
  (repo,            CONTAINS,    file)      one per source row
  (file,            HAS_SEGMENT, span)      one per labeled segment
  (file,            DEFINES,     symbol)    def/class names
  (file,            REFERENCES,  symbol)    imports
  (symbol,          REFERENCES,  symbol)    call sites inside def bodies

Node id scheme: file = doc_id; symbol = "sym:" + name;
span = doc_id + "#" + start + "-" + stop.

All derivations are per-doc equi-joins on (doc_id, parent_id) — with the
segments table hash-partitioned by doc_id these are co-partitioned and
shuffle once, not per-join. The python mirror of this derivation (the
oracle spec) lives in :mod:`pawpaw_spark.oracle`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pawpaw_spark.operators.segment import doc_id_col, fan_out, segment, segment_dispatch
from pawpaw_spark.rulesets import LANG_RULES, TEXT_RULES

DEFINE_DESCS = ("def_name", "class_name")

_EDGE_COLS = ["subj", "pred", "obj", "doc_id", "start", "stop"]


def segment_by_lang(
    source: DataFrame, lang_rules=None, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Per-language rule dispatch inside ONE kernel pass (unknown langs
    fall back to TEXT_RULES). A per-ruleset union would cost a full
    scan + mapInPandas stage per rule program."""
    return segment_dispatch(
        source, lang_rules or LANG_RULES, TEXT_RULES, passthrough=passthrough
    )


def contains_edges(source: DataFrame) -> DataFrame:
    return source.select(
        F.col("repo").alias("subj"),
        F.lit("CONTAINS").alias("pred"),
        doc_id_col(source).alias("obj"),
        doc_id_col(source).alias("doc_id"),
        F.lit(None).cast("int").alias("start"),
        F.lit(None).cast("int").alias("stop"),
    )


def has_segment_edges(segments: DataFrame) -> DataFrame:
    return segments.filter(F.col("desc").isNotNull()).select(
        F.col("doc_id").alias("subj"),
        F.lit("HAS_SEGMENT").alias("pred"),
        F.concat(
            F.col("doc_id"), F.lit("#"), F.col("start"), F.lit("-"), F.col("stop"),
            F.lit(":"), F.col("desc"),
        ).alias("obj"),
        "doc_id",
        "start",
        "stop",
    )


def defines_edges(segments: DataFrame) -> DataFrame:
    return segments.filter(
        F.col("desc").isin(*DEFINE_DESCS) & F.col("value").isNotNull()
    ).select(
        F.col("doc_id").alias("subj"),
        F.lit("DEFINES").alias("pred"),
        F.concat(F.lit("sym:"), F.col("value")).alias("obj"),
        "doc_id",
        "start",
        "stop",
    )


def import_reference_edges(segments: DataFrame) -> DataFrame:
    return segments.filter(
        (F.col("desc") == "import_name") & F.col("value").isNotNull()
    ).select(
        F.col("doc_id").alias("subj"),
        F.lit("REFERENCES").alias("pred"),
        F.concat(F.lit("sym:"), F.col("value")).alias("obj"),
        "doc_id",
        "start",
        "stop",
    )


def call_reference_edges(segments: DataFrame) -> DataFrame:
    """(enclosing def symbol) REFERENCES (called symbol).

    calls.parent = def_body; def_name shares the def_body's parent
    (the def_block) — two co-partitioned self-joins on (doc_id, id).
    """
    calls = segments.filter((F.col("desc") == "call_name") & F.col("value").isNotNull())
    bodies = segments.filter(F.col("desc") == "def_body").select(
        F.col("doc_id").alias("b_doc"),
        F.col("seg_id").alias("b_id"),
        F.col("parent_id").alias("b_parent"),
    )
    names = segments.filter(
        (F.col("desc") == "def_name") & F.col("value").isNotNull()
    ).select(
        F.col("doc_id").alias("n_doc"),
        F.col("parent_id").alias("n_parent"),
        F.col("value").alias("def_value"),
    )
    return (
        calls.join(
            bodies,
            (calls["doc_id"] == bodies["b_doc"]) & (calls["parent_id"] == bodies["b_id"]),
        )
        .join(
            names,
            (F.col("b_doc") == names["n_doc"]) & (F.col("b_parent") == names["n_parent"]),
        )
        .select(
            F.concat(F.lit("sym:"), F.col("def_value")).alias("subj"),
            F.lit("REFERENCES").alias("pred"),
            F.concat(F.lit("sym:"), F.col("value")).alias("obj"),
            "doc_id",
            "start",
            "stop",
        )
    )


def build_edges(source: DataFrame, segments: DataFrame | None = None) -> DataFrame:
    """Edge union over a segments table.

    When ``segments`` is not supplied (direct API / bench path) the
    segmentation output is persisted before fan-out: five edge branches
    plus two self-joins would otherwise re-run the regex kernel per
    branch. The production pipeline (:mod:`pawpaw_spark.pipeline`)
    materializes segments to parquet instead and passes them in.
    """
    if segments is None:
        from pyspark import StorageLevel

        segments = segment_by_lang(source).persist(StorageLevel.MEMORY_AND_DISK)
        segments.count()  # eager: the five branches below must hit the cache,
        # not race to compute it (persist alone is lazy)
    return (
        contains_edges(source)
        .unionByName(has_segment_edges(segments))
        .unionByName(defines_edges(segments))
        .unionByName(import_reference_edges(segments))
        .unionByName(call_reference_edges(segments))
    )


def build_edges_fused(source: DataFrame, lang_rules=None) -> DataFrame:
    """All five edge kinds emitted directly from ONE kernel pass.

    Every edge kind is a per-document derivation over the in-UDF tree
    (even call->def resolution is a parent-chain lookup), so the
    relational route — materialize 6M segment rows, persist, five
    branches, two self-joins — pays shuffle + cache for locality the
    kernel already has. Same output rows as
    ``build_edges(source)`` (differentially tested); use this for
    throughput paths, the relational form when the segments table is
    materialized anyway.
    """
    from typing import Iterator

    import pyarrow as pa
    import pyarrow.compute as pc

    from pawpaw_spark.kernel import segment_text, value_descs
    from pawpaw_spark.rulesets import LANG_RULES as _LR, TEXT_RULES as _TR

    lang_rules = lang_rules or _LR

    def has_segment_batch(doc_ids: pa.Array, rows: list[int], segs: list) -> pa.RecordBatch:
        """HAS_SEGMENT rows built column-wise by Arrow from the kept
        segments and the input row each came from."""
        did = doc_ids.take(pa.array(rows, pa.int32()))
        start = pa.array([seg[0] for seg in segs], pa.int32())
        stop = pa.array([seg[1] for seg in segs], pa.int32())
        desc = pa.array([seg[2] for seg in segs], pa.string())
        obj = pc.binary_join_element_wise(
            did, "#", start.cast(pa.string()), "-", stop.cast(pa.string()), ":", desc, "")
        return pa.RecordBatch.from_arrays(
            [did, pa.repeat(pa.scalar("HAS_SEGMENT", pa.string()), len(rows)), obj, did,
             start, stop],
            names=_EDGE_COLS,
        )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # mapInArrow, not mapInPandas: edge rows are built as arrow
        # arrays directly — the pandas object-array detour measured
        # ~20-25% slower end-to-end at this row volume
        for rb in batches:
            # CONTAINS / DEFINES / REFERENCES rows, few: Python lists
            subj, pred, obj, doc, start, stop = [], [], [], [], [], []

            def emit(s, p, o, d, a, b):
                subj.append(s); pred.append(p); obj.append(o)
                doc.append(d); start.append(a); stop.append(b)

            # HAS_SEGMENT, ~93% of the rows: one per segment with a desc
            seg_rows: list[int] = []
            kept: list = []
            for row, (repo, did, text, lang) in enumerate(zip(
                rb.column(0).to_pylist(), rb.column(1).to_pylist(),
                rb.column(2).to_pylist(), rb.column(3).to_pylist(),
            )):
                emit(repo, "CONTAINS", did, did, None, None)
                if text is None:
                    continue
                rules = lang_rules.get(lang, _TR)
                vdescs = value_descs(rules)  # cached on the RuleSet
                segs = segment_text(text, rules)
                labeled = [seg for seg in segs[1:] if seg[2] is not None]
                kept += labeled
                seg_rows += [row] * len(labeled)
                names_by_parent = None
                for a, b, desc, parent, _depth, _tag in [
                    seg for seg in labeled if seg[2] in vdescs
                ]:
                    value = text[a:b]
                    if not value:
                        continue
                    if desc in DEFINE_DESCS:
                        emit(did, "DEFINES", f"sym:{value}", did, a, b)
                    elif desc == "import_name":
                        emit(did, "REFERENCES", f"sym:{value}", did, a, b)
                    elif desc == "call_name" and parent >= 0:
                        body = segs[parent]
                        if body[2] == "def_body":
                            if names_by_parent is None:
                                names_by_parent = _def_names_by_parent(segs, text)
                            for name in names_by_parent.get(body[3], ()):
                                emit(f"sym:{name}", "REFERENCES", f"sym:{value}", did, a, b)
            if subj:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(subj, pa.string()), pa.array(pred, pa.string()),
                     pa.array(obj, pa.string()), pa.array(doc, pa.string()),
                     pa.array(start, pa.int32()), pa.array(stop, pa.int32())],
                    names=_EDGE_COLS,
                )
            if kept:
                yield has_segment_batch(rb.column(1), seg_rows, kept)

    src = source.select(
        F.col("repo").alias("__repo"),
        doc_id_col(source).alias("__doc_id"),
        F.col("content").alias("__text"),
        F.col("lang").alias("__lang"),
    )
    src = fan_out(source, src)
    return src.mapInArrow(
        run, schema="subj string, pred string, obj string, doc_id string, start int, stop int"
    )


def _def_names_by_parent(segs, text: str) -> dict[int, list[str]]:
    """def_name texts keyed by their parent (the def_block) segment."""
    names: dict[int, list[str]] = {}
    for a, b, desc, parent, _depth, _tag in segs[1:]:
        if desc == "def_name":
            names.setdefault(parent, []).append(text[a:b])
    return names


def _node_kind(c):
    """Node kind from the id scheme (shared by build_nodes and
    schema_summary; the DuckDB contract oracle mirrors it as a CASE
    over starts_with/contains)."""
    return (
        F.when(c.startswith("sym:"), "symbol")
        .when(c.contains("#"), "span")
        .when(c.contains("@"), "file")
        .otherwise("repo")
    )


def build_nodes(edges: DataFrame, source: DataFrame | None = None) -> DataFrame:
    """Distinct node table from edge endpoints; kind by id scheme."""
    endpoints = edges.select(F.col("subj").alias("node_id"), F.col("pred")).unionByName(
        edges.select(F.col("obj").alias("node_id"), F.lit(None).alias("pred"))
    )
    kind = _node_kind(F.col("node_id"))
    return (
        endpoints.select("node_id")
        .distinct()
        .withColumn("kind", kind)
        .withColumn("canon_id", F.col("node_id"))
    )


def edge_diff(
    old: DataFrame,
    new: DataFrame,
    cols: tuple[str, ...] = ("subj", "pred", "obj"),
) -> DataFrame:
    """Delta between two KG edge tables -> (op, *cols): ``op='add'``
    for edges in ``new`` but not ``old``, ``op='del'`` for the
    reverse; both sides set-deduped first, so multiplicity changes are
    NOT deltas (edge identity is the tuple, matching the reference's
    Ito equality rule — span/desc identity, not occurrence count).

    The day-2 ingest audit: after a commit lands, what did the graph
    gain and lose. Composes with canon.incremental_components (node
    side) to make delta ingest fully incremental — downstream
    consumers apply (op, edge) rows instead of re-reading the full
    store.

    Scale shape: two left-anti equi-joins on the full edge tuple (AQE
    shuffles on identical keys both sides); nothing quadratic, nothing
    driver-side. At 100 TB the old side is the materialized edge store
    partitioned by pred — a pred-sliced diff prunes partitions on both
    scans.
    """
    kl = list(cols)
    o = old.select(*kl).distinct()
    n = new.select(*kl).distinct()
    add = n.join(o, kl, "left_anti").select(
        F.lit("add").alias("op"), *kl
    )
    dele = o.join(n, kl, "left_anti").select(
        F.lit("del").alias("op"), *kl
    )
    return add.unionByName(dele)


def schema_summary(
    edges: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """VoID-style KG schema statistics -> one row per
    (pred, subj_type, obj_type): n_edges, n_subj, n_obj.

    Node type is ``build_nodes``'s kind rule over the id scheme
    (``symbol`` / ``span`` / ``file`` / ``repo`` via
    :func:`_node_kind`), so the summary and the node table always
    agree on typing.  This is the graph-
    materialize QA/summary a W3C VoID description publishes
    (property partitions with ``void:triples`` /
    ``void:distinctSubjects`` / ``void:distinctObjects``) and the
    first thing a KG consumer asks of an unfamiliar edge dump:
    which predicates exist, between which node kinds, at what
    cardinality.

    One groupBy over the edge scan; the two exact distinct counts
    share the single shuffle via Spark's count-distinct expand (the
    group count is schema-sized — predicates x node types — so the
    expand's 3x row factor is the cheap, exact choice here; sketch
    approximations only pay off when the GROUPS are data-sized).
    """
    st = _node_kind(F.col(subj_col)).alias("subj_type")
    ot = _node_kind(F.col(obj_col)).alias("obj_type")
    return (
        edges.select(F.col(pred_col).alias("pred"), st, ot,
                     F.col(subj_col).alias("s"), F.col(obj_col).alias("o"))
        .groupBy("pred", "subj_type", "obj_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.countDistinct("s").cast("long").alias("n_subj"),
            F.countDistinct("o").cast("long").alias("n_obj"),
        )
    )


def latest_snapshot(
    source: DataFrame,
    order_col: str = "commit",
) -> DataFrame:
    """Multi-commit source table -> one row per (repo, path): the row
    with the LEXICOGRAPHICALLY greatest ``order_col`` (ties broken by
    content then lang, so the pick is deterministic even on malformed
    inputs with duplicate commit ids).

    The day-2 ingest primitive: an append-only Iceberg source
    accumulates one row per (file, commit); the KG builds from the
    latest snapshot. One partial-aggregated groupBy on (repo, path) —
    max of a struct, so there is NO window sort and NO per-key row
    explosion; the shuffle carries one struct row per file. Callers
    with non-sortable commit ids (git hashes) must pass a sortable
    ingest ordinal (commit_seq / ingest timestamp) — a lexicographic
    max over hashes would pick an arbitrary-but-stable row, which is
    why the column is a parameter rather than assumed.

    Composes with edge_diff (audit what changed between two
    snapshots) and canon.incremental_components (rewire only the
    delta).
    """
    return (
        source.groupBy("repo", "path")
        .agg(
            F.max(
                F.struct(
                    F.col(order_col).alias("_o"),
                    F.col("content"),
                    F.col("lang"),
                )
            ).alias("s")
        )
        .select(
            "repo",
            "path",
            F.col("s._o").alias(order_col),
            F.col("s.lang").alias("lang"),
            F.col("s.content").alias("content"),
        )
    )
