"""OWL Horst (pD*) property-characteristic saturation over KG triples.

The layer above :mod:`pawpaw_spark.operators.rdfs`: where rho-df gives
sub-property/class hierarchies and typing, the pD* property rules (ter
Horst 2005, the fragment every WebPIE-family distributed reasoner
implements) give PROPERTY ALGEBRA — ``owl:SymmetricProperty`` (rdfp3),
``owl:TransitiveProperty`` (rdfp4), ``owl:inverseOf`` (rdfp8ax/bx), and
the ``owl:FunctionalProperty`` / ``owl:InverseFunctionalProperty``
sameAs derivations (rdfp1/rdfp2) that feed
:func:`pawpaw_spark.operators.rdfs.sameas_fuse`.

No instance-scale fixpoint is needed for the sym/inv/trans family.
The saturation equals the ORDERED composition ``T(C(T(base)))``:

* ``T`` applies the schema's edge TRANSFORMS — every ``sym(p)`` /
  ``inverseOf(p, q)`` declaration generates "copy the edge, maybe
  flipped, under a (possibly) renamed predicate", and the transform
  set is closed under composition DRIVER-SIDE (schema is metadata,
  the group is tiny). One broadcast join applies all of them at once.
* ``C`` transitively closes the slices of predicates DECLARED
  transitive — all predicates in ONE fixpoint, the closure keyed on
  the predicate (:func:`pawpaw_spark.operators.graph_query._closure`
  with ``key=("pred",)``, run by :func:`pawpaw_spark.session.
  semi_naive`).

Why that ordering is the fixpoint: transforms are bijections on edge
sets that rename predicates and/or reverse direction, and transitive
closure COMMUTES with reversal and renaming — the closure of an
inverse is the inverse of the closure. So any chain of rule firings
normalizes to transform-then-close-then-transform; a second closure
pass can add nothing (pinned by the saturation-idempotence test).

Scale shape: the only joins against instance data are (a) one
broadcast join with the closed transform table and (b) the keyed
closure of the TRANSITIVE slices only — the overwhelmingly non-
transitive rest of a KG never enters the loop. Functional sameAs is
one self-join per declaration side, both blocked on (subject,
predicate) / (predicate, object) — never all-pairs.

Reference parity: none — the reference emits triples and stops; this
extends the beyond-parity deductive surface (rdfs.py, infer.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pawpaw_spark.operators.graph_query import _closure

VOCAB_SYMMETRIC = "SymmetricProperty"
VOCAB_TRANSITIVE = "TransitiveProperty"
VOCAB_INVERSE_OF = "inverseOf"
VOCAB_FUNCTIONAL = "FunctionalProperty"
VOCAB_INV_FUNCTIONAL = "InverseFunctionalProperty"


def close_transforms(
    sym_props: set[str], inv_pairs: set[tuple[str, str]]
) -> set[tuple[str, str, bool]]:
    """Close the schema's edge-transform generators under composition.
    A transform ``(p, q, flip)`` reads: an edge ``(s, p, o)`` entails
    ``(s, q, o)``, endpoints swapped when ``flip``. Generators:
    ``sym(p) -> (p, p, True)``; ``inverseOf(p, q) -> (p, q, True)``
    and ``(q, p, True)``. Composition ``(p,q,f) . (q,r,g) =
    (p,r,f xor g)``; identities ``(p, p, False)`` are dropped (the
    caller unions the base back in). Pure driver-side set algebra over
    METADATA — the group is bounded by (#declared properties)^2."""
    gens: set[tuple[str, str, bool]] = {(p, p, True) for p in sym_props}
    for p, q in inv_pairs:
        gens.add((p, q, True))
        gens.add((q, p, True))
    closed = set(gens)
    while True:
        new = {
            (p, r, f != g)
            for (p, q, f) in closed
            for (q2, r, g) in closed
            if q == q2
        } - closed
        new = {(p, q, f) for (p, q, f) in new if not (p == q and not f)}
        if not new:
            return {(p, q, f) for (p, q, f) in closed if not (p == q and not f)}
        closed |= new


def owl_property_closure(
    triples: DataFrame,
    *,
    type_pred: str = "type",
    symmetric_cls: str = VOCAB_SYMMETRIC,
    transitive_cls: str = VOCAB_TRANSITIVE,
    inverse_pred: str = VOCAB_INVERSE_OF,
    max_rounds: int = 32,
    include_base: bool = False,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """pD* symmetric/inverseOf/transitive saturation -> the DERIVED
    (subj, pred, obj) facts (set semantics; ``include_base=True``
    unions the base back in). Schema triples — ``(p, type,
    SymmetricProperty | TransitiveProperty)`` and ``(p, inverseOf, q)``
    — live in the SAME table as instance triples, the RDF data model;
    they pass through untouched and un-transformed (transforming a
    declaration would manufacture schema)."""
    t = triples.select(
        F.col(subj_col).cast("string").alias("subj"),
        F.col(pred_col).cast("string").alias("pred"),
        F.col(obj_col).cast("string").alias("obj"),
    )
    # ONE schema scan, not three: declarations are metadata-sized but
    # the table they're filtered from is the full KG
    decls = (
        t.filter(
            ((F.col("pred") == type_pred)
             & F.col("obj").isin(symmetric_cls, transitive_cls))
            | (F.col("pred") == inverse_pred)
        )
        .distinct()
        .collect()
    )
    sym = {r.subj for r in decls
           if r.pred == type_pred and r.obj == symmetric_cls}
    trans = {r.subj for r in decls
             if r.pred == type_pred and r.obj == transitive_cls}
    inv = {(r.subj, r.obj) for r in decls if r.pred == inverse_pred}
    schema_preds = {type_pred, inverse_pred}
    inst = t.filter(~F.col("pred").isin(*schema_preds))
    spark = triples.sparkSession
    transforms = close_transforms(sym, inv)

    def apply_t(df: DataFrame) -> DataFrame:
        if not transforms:
            return df
        tt = spark.createDataFrame(
            sorted(transforms), "pred string, q string, flip boolean"
        )
        mapped = df.join(F.broadcast(tt), "pred").select(
            F.when(F.col("flip"), F.col("obj")).otherwise(F.col("subj")).alias("subj"),
            F.col("q").alias("pred"),
            F.when(F.col("flip"), F.col("subj")).otherwise(F.col("obj")).alias("obj"),
        )
        return df.union(mapped).distinct()

    expanded = apply_t(inst)
    if trans:
        closed_slices = _closure(
            expanded.filter(F.col("pred").isin(*sorted(trans))).select(
                "pred", F.col("subj").alias("src"), F.col("obj").alias("dst")
            ),
            max_rounds,
            False,
            key=("pred",),
        ).select(
            # positional-union safety: (subj, pred, obj) like expanded
            F.col("src").alias("subj"), "pred", F.col("dst").alias("obj")
        )
        expanded = (
            expanded.filter(~F.col("pred").isin(*sorted(trans)))
            .union(closed_slices)
        )
    saturated = apply_t(expanded).distinct()
    if include_base:
        return saturated.union(t).distinct()
    return saturated.join(t, ["subj", "pred", "obj"], "left_anti")


def functional_sameas(
    triples: DataFrame,
    *,
    type_pred: str = "type",
    functional_cls: str = VOCAB_FUNCTIONAL,
    inv_functional_cls: str = VOCAB_INV_FUNCTIONAL,
    sameas_pred: str = "sameAs",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """pD* rdfp1/rdfp2: derive ``(a, sameAs, b)`` assertions from
    functional-property clashes — ``(s, p, a), (s, p, b)`` for
    functional ``p`` makes a and b the same individual; ``(a, p, o),
    (b, p, o)`` for inverse-functional ``p`` likewise. Output is the
    canonical undirected pair form (a < b, distinct) ready for
    :func:`pawpaw_spark.operators.rdfs.sameas_canonical`. Both
    self-joins are blocked on (subject, predicate) / (predicate,
    object) — group sizes are the per-key fan-outs, never all-pairs."""
    t = triples.select(
        F.col(subj_col).cast("string").alias("subj"),
        F.col(pred_col).cast("string").alias("pred"),
        F.col(obj_col).cast("string").alias("obj"),
    )
    fn = t.filter(
        (F.col("pred") == type_pred) & (F.col("obj") == functional_cls)
    ).select(F.col("subj").alias("p"))
    ifn = t.filter(
        (F.col("pred") == type_pred) & (F.col("obj") == inv_functional_cls)
    ).select(F.col("subj").alias("p"))
    inst = t.filter(F.col("pred") != type_pred)
    f_edges = inst.join(
        F.broadcast(fn), inst["pred"] == fn["p"]
    ).select("subj", "pred", "obj")
    pairs_f = (
        f_edges.alias("x")
        .join(
            f_edges.alias("y"),
            (F.col("x.subj") == F.col("y.subj"))
            & (F.col("x.pred") == F.col("y.pred"))
            & (F.col("x.obj") < F.col("y.obj")),
        )
        .select(F.col("x.obj").alias("subj"), F.col("y.obj").alias("obj"))
    )
    i_edges = inst.join(
        F.broadcast(ifn), inst["pred"] == ifn["p"]
    ).select("subj", "pred", "obj")
    pairs_i = (
        i_edges.alias("x")
        .join(
            i_edges.alias("y"),
            (F.col("x.obj") == F.col("y.obj"))
            & (F.col("x.pred") == F.col("y.pred"))
            & (F.col("x.subj") < F.col("y.subj")),
        )
        .select(F.col("x.subj").alias("subj"), F.col("y.subj").alias("obj"))
    )
    return (
        pairs_f.union(pairs_i)
        .distinct()
        .select("subj", F.lit(sameas_pred).alias("pred"), "obj")
    )
