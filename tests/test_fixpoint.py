"""Convergence boundary of every semi-naive fixpoint caller.

Each case runs one operator over a small chain graph. At ``max_rounds =
needed`` the result equals the plain-Python expected set; one round
fewer raises ``RuntimeError`` (``did not converge``) instead of
returning a truncated answer. ``needed`` is the exact round count of
each loop shape:

* a full closure over an n-edge chain takes n rounds (n - 1 that add
  pairs, one that finds the empty delta); ``square=True`` doubles the
  path length per round, log2(n) + 1;
* an anchored closure takes the hop radius from the anchor, not the
  chain's diameter;
* ``infer`` counts its naive first round, so transitive-closure rules
  over an n-edge chain take n + 1;
* ``infer_delta`` starts from the added base facts: one round per
  added hop, plus the empty one;
* a value relaxation (``session.relax``: shortest paths, temporal
  reachability, SCC colouring) takes one round per improving hop plus
  the round that changes nothing: n + 1 over an n-edge chain, and the
  same over the ring that closes it (colour and collect each).

A BFS is not bounded this way: its depth cap is part of the query, so
``max_depth`` truncates the tree and never raises.
"""

import pytest

from pawpaw_spark.operators.graph import (
    reachability,
    shortest_path_tree,
    shortest_paths,
    strongly_connected_components,
    temporal_reachability,
)
from pawpaw_spark.operators.graph_query import match_pattern, path_pairs
from pawpaw_spark.operators.infer import infer, infer_delta
from pawpaw_spark.operators.owl import owl_property_closure
from pawpaw_spark.operators.rdfs import rdfs_closure

N = 6
CHAIN = [(f"n{i}", "E", f"n{i + 1}") for i in range(N)]
OLD, ADD = CHAIN[:2], CHAIN[2:]
LONG = [(f"n{i}", "E", f"n{i + 1}") for i in range(16)]
TC_RULES = [
    (("?x", "TC", "?y"), [("?x", "E", "?y")]),
    (("?x", "TC", "?z"), [("?x", "TC", "?y"), ("?y", "E", "?z")]),
]


def _edges(spark, triples):
    return spark.createDataFrame(
        [(s, o) for s, _, o in triples], "src string, dst string"
    )


def _seeds(spark, *nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node string")


def _df(spark, triples):
    return spark.createDataFrame(
        list(triples), "subj string, pred string, obj string"
    )


def _tc(triples):
    """Transitive closure of the (s, o) pairs of a triple list."""
    pairs = {(s, o) for s, _, o in triples}
    while True:
        new = {(a, d) for a, b in pairs for c, d in pairs if b == c} - pairs
        if not new:
            return pairs
        pairs |= new


def _pairs(df):
    return {(r.src, r.dst) for r in df.collect()}


def _spo(df):
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


def _full(spark, m):
    return _pairs(path_pairs(_df(spark, CHAIN), "E+", max_rounds=m))


def _square(spark, m):
    return _pairs(
        path_pairs(_df(spark, LONG), "E+", max_rounds=m, square=True)
    )


def _src_anchored(spark, m):
    out = match_pattern(
        _df(spark, CHAIN), [("n2", "E+", "?x")], path_max_rounds=m
    )
    return {r.x for r in out.collect()}


def _dst_anchored(spark, m):
    out = match_pattern(
        _df(spark, CHAIN), [("?x", "E+", "n4")], path_max_rounds=m
    )
    return {r.x for r in out.collect()}


def _owl(spark, m):
    chain = [(s, "within", o) for s, _, o in CHAIN]
    schema = [("within", "type", "TransitiveProperty")]
    return _spo(owl_property_closure(_df(spark, chain + schema), max_rounds=m))


def _rdfs(spark, m):
    chain = [(s, "subClassOf", o) for s, _, o in CHAIN]
    return _spo(rdfs_closure(_df(spark, chain), max_rounds=m))


def _infer(spark, m):
    return _spo(infer(_df(spark, CHAIN), TC_RULES, max_rounds=m))


def _infer_delta(spark, m):
    derived = infer(_df(spark, OLD), TC_RULES)
    return _spo(
        infer_delta(
            _df(spark, OLD), derived, _df(spark, ADD), TC_RULES, max_rounds=m
        )
    )


def _shortest_paths(spark, m):
    out = shortest_paths(_edges(spark, CHAIN), _seeds(spark, "n0"),
                         max_rounds=m)
    return {(r.node, r.dist) for r in out.collect()}


def _temporal(spark, m):
    # hop i leaves at time i: every hop improves its target once
    e = spark.createDataFrame(
        [(s, o, i) for i, (s, _, o) in enumerate(CHAIN)],
        "src string, dst string, t long",
    )
    seeds = spark.createDataFrame([("n0", 0)], "node string, t long")
    out = temporal_reachability(e, seeds, max_rounds=m)
    return {(r.node, r.earliest) for r in out.collect()}


def _scc(spark, m):
    ring = CHAIN + [(f"n{N}", "E", "n0")]
    out = strongly_connected_components(
        _edges(spark, ring), max_color_rounds=m
    )
    return {(r.node, r.scc) for r in out.collect()}


_TC = _tc(CHAIN)
_INDIRECT = _TC - {(s, o) for s, _, o in CHAIN}

# (id, run(spark, max_rounds) -> result set, expected set, needed)
CASES = [
    ("path_full", _full, _TC, N),
    ("path_square", _square, _tc(LONG), 5),
    ("path_src_anchored", _src_anchored,
     {d for s, d in _TC if s == "n2"}, 4),
    ("path_dst_anchored", _dst_anchored,
     {s for s, d in _TC if d == "n4"}, 4),
    ("owl_property_closure", _owl,
     {(s, "within", o) for s, o in _INDIRECT}, N),
    ("rdfs_closure", _rdfs, {(s, "subClassOf", o) for s, o in _INDIRECT}, N),
    ("infer", _infer, {(s, "TC", o) for s, o in _TC}, N + 1),
    ("infer_delta", _infer_delta,
     {(s, "TC", o) for s, o in _TC - _tc(OLD)}, len(ADD) + 1),
    ("shortest_paths", _shortest_paths,
     {(f"n{i}", i) for i in range(N + 1)}, N + 1),
    ("temporal_reachability", _temporal,
     {("n0", 0)} | {(f"n{i + 1}", i) for i in range(N)}, N + 1),
    ("scc_color_collect", _scc, {(f"n{i}", f"n{N}") for i in range(N + 1)},
     N + 1),
]


@pytest.mark.parametrize(
    "run, expected, needed",
    [c[1:] for c in CASES],
    ids=[c[0] for c in CASES],
)
def test_converges_at_needed_rounds(spark, run, expected, needed):
    assert run(spark, needed) == expected


@pytest.mark.parametrize(
    "run, needed",
    [(c[1], c[3]) for c in CASES],
    ids=[c[0] for c in CASES],
)
def test_raises_one_round_short(spark, run, needed):
    with pytest.raises(RuntimeError, match="did not converge"):
        run(spark, needed - 1)


def test_bfs_depth_cap_truncates(spark):
    e, seeds = _edges(spark, CHAIN), _seeds(spark, "n0")
    tree = shortest_path_tree(e, seeds, max_depth=2)
    assert {(r.node, r.depth, r.parent) for r in tree.collect()} == {
        ("n0", 0, None), ("n1", 1, "n0"), ("n2", 2, "n1"),
    }
    depths = reachability(e, seeds, max_depth=N - 1)
    assert {(r.node, r.depth) for r in depths.collect()} == {
        (f"n{i}", i) for i in range(N)
    }
