"""OWL Horst (pD*) property saturation — operators/owl.py.

Oracle: a brute-force naive fixpoint over Python sets applying the pD*
property rules literally (rdfp3 symmetric, rdfp4 transitive, rdfp8ax/bx
inverseOf, rdfp1/rdfp2 functional sameAs) until no rule fires.  The
Spark path computes the same saturation as the ordered composition
T(C(T(base))) — the tests pin that the two agree on hand graphs, on
hypothesis-random graphs, and that saturation is idempotent.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pawpaw_spark.operators.owl import (
    close_transforms,
    functional_sameas,
    owl_property_closure,
)


# ---------------------------------------------------------------- mirror
def naive_pd_star(triples, *, type_pred="type"):
    """Literal naive fixpoint of the pD* sym/trans/inverse rules over a
    Python set of (s, p, o).  Schema triples pass through untouched."""
    sym = {s for (s, p, o) in triples if p == type_pred and o == "SymmetricProperty"}
    trans = {s for (s, p, o) in triples if p == type_pred and o == "TransitiveProperty"}
    inv = {(s, o) for (s, p, o) in triples if p == "inverseOf"}
    schema_preds = {type_pred, "inverseOf"}
    inst = {t for t in triples if t[1] not in schema_preds}
    while True:
        new = set()
        for (s, p, o) in inst:
            if p in sym:
                new.add((o, p, s))
            for (a, b) in inv:
                if p == a:
                    new.add((o, b, s))
                if p == b:
                    new.add((o, a, s))
        for p in trans:
            sl = {(s, o) for (s, pp, o) in inst if pp == p}
            for (s, o) in sl:
                for (o2, o3) in sl:
                    if o == o2:
                        new.add((s, p, o3))
        new -= inst
        if not new:
            return inst
        inst |= new


def naive_functional(triples, *, type_pred="type"):
    fn = {s for (s, p, o) in triples if p == type_pred and o == "FunctionalProperty"}
    ifn = {
        s
        for (s, p, o) in triples
        if p == type_pred and o == "InverseFunctionalProperty"
    }
    inst = {t for t in triples if t[1] != type_pred}
    pairs = set()
    for (s1, p1, o1) in inst:
        for (s2, p2, o2) in inst:
            if p1 == p2 and p1 in fn and s1 == s2 and o1 < o2:
                pairs.add((o1, o2))
            if p1 == p2 and p1 in ifn and o1 == o2 and s1 < s2:
                pairs.add((s1, s2))
    return pairs


def _df(spark, triples):
    return spark.createDataFrame(
        sorted(triples), "subj string, pred string, obj string"
    )


def _rows(df):
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


def _spark_sat(spark, triples, **kw):
    return _rows(owl_property_closure(_df(spark, triples), **kw))


# --------------------------------------------------- transform closure
class TestCloseTransforms:
    def test_symmetric_only(self):
        assert close_transforms({"p"}, set()) == {("p", "p", True)}

    def test_inverse_pair(self):
        got = close_transforms(set(), {("p", "q")})
        assert got == {("p", "q", True), ("q", "p", True)}

    def test_inverse_chain_composes(self):
        # p inv q, q inv r  =>  p->r unflipped (two flips cancel)
        got = close_transforms(set(), {("p", "q"), ("q", "r")})
        assert ("p", "r", False) in got
        assert ("r", "p", False) in got
        # identities are dropped
        assert ("p", "p", False) not in got

    def test_sym_and_inverse_interact(self):
        # sym(p) + inverseOf(p, q): q edges map straight onto p and back
        got = close_transforms({"p"}, {("p", "q")})
        assert ("q", "p", False) in got  # flip(inv) . flip(sym)
        assert ("q", "q", True) in got  # q inherits symmetry through p

    def test_self_inverse_means_symmetric(self):
        got = close_transforms(set(), {("p", "p")})
        assert got == {("p", "p", True)}


# ------------------------------------------------------ hand saturations
SCHEMA_SYM = [("knows", "type", "SymmetricProperty")]
SCHEMA_TRANS = [("within", "type", "TransitiveProperty")]
SCHEMA_INV = [("contains", "inverseOf", "within")]


class TestOwlClosure:
    def test_symmetric(self, spark):
        base = [("a", "knows", "b"), ("b", "knows", "c")] + SCHEMA_SYM
        got = _spark_sat(spark, base)
        assert got == {("b", "knows", "a"), ("c", "knows", "b")}

    def test_transitive_chain(self, spark):
        base = [
            ("a", "within", "b"),
            ("b", "within", "c"),
            ("c", "within", "d"),
        ] + SCHEMA_TRANS
        got = _spark_sat(spark, base)
        assert got == {
            ("a", "within", "c"),
            ("a", "within", "d"),
            ("b", "within", "d"),
        }

    def test_inverse_of(self, spark):
        base = [("x", "within", "y"), ("q", "contains", "r")] + SCHEMA_INV
        got = _spark_sat(spark, base)
        assert got == {("y", "contains", "x"), ("r", "within", "q")}

    def test_inverse_of_transitive_closes_both_sides(self, spark):
        # within transitive + contains=within^-1: the contains slice is
        # saturated through the within closure even though contains is
        # never declared transitive (rdfp8 x rdfp4 interaction).
        base = [
            ("a", "within", "b"),
            ("c", "contains", "b"),  # i.e. b within c
        ] + SCHEMA_TRANS + SCHEMA_INV
        got = _spark_sat(spark, base)
        assert ("a", "within", "c") in got
        assert ("c", "contains", "a") in got

    def test_matches_naive_mirror_combined(self, spark):
        base = (
            [
                ("a", "within", "b"),
                ("b", "within", "c"),
                ("a", "knows", "b"),
                ("d", "contains", "a"),
                ("x", "other", "y"),  # untouched non-declared predicate
            ]
            + SCHEMA_SYM
            + SCHEMA_TRANS
            + SCHEMA_INV
        )
        expect = naive_pd_star(set(base)) - {
            t for t in base if t[1] not in ("type", "inverseOf")
        }
        assert _spark_sat(spark, base) == expect

    def test_include_base_and_idempotence(self, spark):
        base = (
            [("a", "within", "b"), ("b", "within", "c"), ("a", "knows", "b")]
            + SCHEMA_SYM
            + SCHEMA_TRANS
        )
        sat = owl_property_closure(_df(spark, base), include_base=True)
        rows = _rows(sat)
        assert set(base) <= rows
        # saturating the saturation derives nothing new
        again = _spark_sat(spark, sorted(rows))
        assert again == set()

    def test_schema_rows_never_transformed(self, spark):
        # sym(inverseOf) would be manufactured schema; declarations are
        # excluded from the instance slice entirely.
        base = [
            ("inverseOf", "type", "SymmetricProperty"),
            ("p", "inverseOf", "q"),
            ("s", "p", "o"),
        ]
        got = _spark_sat(spark, base)
        assert got == {("o", "q", "s")}


# ------------------------------------------------------ functional rules
class TestFunctionalSameAs:
    def test_functional_clash(self, spark):
        base = [
            ("owner", "type", "FunctionalProperty"),
            ("o1", "owner", "alice"),
            ("o1", "owner", "alice_dup"),
            ("o2", "owner", "bob"),
        ]
        got = _rows(functional_sameas(_df(spark, base)))
        assert got == {("alice", "sameAs", "alice_dup")}

    def test_inverse_functional_clash(self, spark):
        base = [
            ("sha", "type", "InverseFunctionalProperty"),
            ("f1", "sha", "h1"),
            ("f2", "sha", "h1"),
            ("f3", "sha", "h2"),
        ]
        got = _rows(functional_sameas(_df(spark, base)))
        assert got == {("f1", "sameAs", "f2")}

    def test_matches_naive_mirror(self, spark):
        base = [
            ("owner", "type", "FunctionalProperty"),
            ("sha", "type", "InverseFunctionalProperty"),
            ("o1", "owner", "a"),
            ("o1", "owner", "b"),
            ("o1", "owner", "c"),
            ("f1", "sha", "h"),
            ("f2", "sha", "h"),
            ("f3", "sha", "h"),
            ("x", "other", "y"),
        ]
        expect = naive_functional(set(base))
        got = {
            (r.subj, r.obj) for r in functional_sameas(_df(spark, base)).collect()
        }
        assert got == expect


# ------------------------------------------------------------ hypothesis
_NODES = st.sampled_from(["a", "b", "c", "d", "e"])
_PREDS = st.sampled_from(["p", "q", "r"])
_TRIPLE = st.tuples(_NODES, _PREDS, _NODES)


@st.composite
def _graph_and_schema(draw):
    inst = draw(st.sets(_TRIPLE, min_size=1, max_size=12))
    schema = []
    for p in ("p", "q", "r"):
        kind = draw(st.sampled_from([None, "sym", "trans", "both"]))
        if kind in ("sym", "both"):
            schema.append((p, "type", "SymmetricProperty"))
        if kind in ("trans", "both"):
            schema.append((p, "type", "TransitiveProperty"))
    if draw(st.booleans()):
        schema.append(("p", "inverseOf", "q"))
    return sorted(inst) + schema


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_graph_and_schema())
def test_hypothesis_matches_naive(spark, triples):
    expect = naive_pd_star(set(triples)) - {
        t for t in triples if t[1] not in ("type", "inverseOf")
    }
    got = _spark_sat(spark, triples)
    assert got == expect
