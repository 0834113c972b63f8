"""Property paths, Datalog inference, and HyperBall vs brute-force
pure-Python oracles: exact pair/fact/register equality on fixed and
randomized small graphs."""

import hashlib
import itertools

import pytest
from hypothesis import given, settings, strategies as st

from pawpaw_spark.operators.graph_query import (
    match_pattern,
    parse_path,
    path_pairs,
)
from pawpaw_spark.operators.infer import infer


def edges_df(spark, triples):
    return spark.createDataFrame(
        list(triples), "subj string, pred string, obj string"
    )


# ------------------------------------------------------------------
# pure-Python path evaluator (the oracle)
# ------------------------------------------------------------------


def py_path(triples, ast):
    nodes = {t[0] for t in triples} | {t[2] for t in triples}
    ident = {(n, n) for n in nodes}

    def ev(node):
        kind = node[0]
        if kind == "pred":
            return {(s, o) for s, p, o in triples if p == node[1]}
        if kind == "inv":
            return {(o, s) for s, o in ev(node[1])}
        if kind == "seq":
            a, b = ev(node[1]), ev(node[2])
            return {(s, o2) for s, o in a for s2, o2 in b if o == s2}
        if kind == "alt":
            return ev(node[1]) | ev(node[2])
        if kind in ("plus", "star"):
            base = ev(node[1])
            clo = set(base)
            while True:
                new = {
                    (s, o2) for s, o in clo for s2, o2 in base if o == s2
                } - clo
                if not new:
                    break
                clo |= new
            return clo | ident if kind == "star" else clo
        if kind == "opt":
            return ev(node[1]) | ident
        raise AssertionError(node)

    return ev(ast)


G = [
    ("a", "E", "b"),
    ("b", "E", "c"),
    ("c", "E", "d"),
    ("d", "E", "b"),  # cycle b->c->d->b
    ("a", "F", "c"),
    ("f1", "DEFINES", "s1"),
    ("s1", "REFERENCES", "s2"),
    ("f2", "DEFINES", "s2"),
    ("s2", "REFERENCES", "s1"),
]


class TestParsePath:
    def test_precedence(self):
        assert parse_path("A|B/C") == (
            "alt", ("pred", "A"), ("seq", ("pred", "B"), ("pred", "C"))
        )
        assert parse_path("^A+") == ("inv", ("plus", ("pred", "A")))
        assert parse_path("(A|B)+") == (
            "plus", ("alt", ("pred", "A"), ("pred", "B"))
        )
        assert parse_path(" A / ^ B ") == (
            "seq", ("pred", "A"), ("inv", ("pred", "B"))
        )
        assert parse_path("A+*?") == ("opt", ("star", ("plus", ("pred", "A"))))

    def test_errors(self):
        for bad in ("", "A|", "(A", "A)", "/A", "A//B", "^", "+A"):
            with pytest.raises(ValueError):
                parse_path(bad)


PATH_EXPRS = [
    "E",
    "^E",
    "E/E",
    "E|F",
    "E+",
    "E*",
    "F?",
    "(E|F)/E",
    "^E/F",
    "(E/E)+",
    "DEFINES/REFERENCES/^DEFINES",
    "E?/F",
    "^(E/F)",
]


class TestPathPairs:
    @pytest.mark.parametrize("expr", PATH_EXPRS)
    def test_fixed_graph(self, spark, expr):
        got = {
            (r.src, r.dst)
            for r in path_pairs(edges_df(spark, G), expr).collect()
        }
        assert got == py_path(G, parse_path(expr))

    def test_square_closure(self, spark):
        # deep chain: doubling converges in log2 rounds
        chain = [(f"n{i}", "E", f"n{i+1}") for i in range(40)]
        got = {
            (r.src, r.dst)
            for r in path_pairs(
                edges_df(spark, chain), "E+", max_rounds=8, square=True
            ).collect()
        }
        assert got == py_path(chain, ("plus", ("pred", "E")))

    @settings(max_examples=15, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(
                st.sampled_from("abcde"),
                st.sampled_from(["E", "F"]),
                st.sampled_from("abcde"),
            ),
            min_size=1,
            max_size=10,
            unique=True,
        ),
        expr=st.sampled_from(
            ["E+", "E|F", "E/F", "^E+", "(E|F)+", "E*/F", "F?"]
        ),
    )
    def test_random(self, spark, edges, expr):
        got = {
            (r.src, r.dst)
            for r in path_pairs(edges_df(spark, edges), expr).collect()
        }
        assert got == py_path(edges, parse_path(expr))


class TestPathInPattern:
    def test_path_triple_with_plain(self, spark):
        # files whose symbol transitively references s1's definer
        out = match_pattern(
            edges_df(spark, G),
            [
                ("?f", "DEFINES", "?s"),
                ("?s", "REFERENCES+", "?t"),
                ("?g", "DEFINES", "?t"),
            ],
            neq=[("?f", "?g")],
        )
        got = {(r.f, r.g) for r in out.collect()}
        # REFERENCES+ cycles s1<->s2: f1's s1 reaches s2 (f2's),
        # f2's s2 reaches s1 (f1's)
        assert got == {("f1", "f2"), ("f2", "f1")}

    def test_endpoint_constants_on_path(self, spark):
        out = match_pattern(
            edges_df(spark, G), [("a", "E+", "?x")]
        )
        assert {r.x for r in out.collect()} == {"b", "c", "d"}

    def test_const_const_path_semijoin(self, spark):
        base = [("?f", "DEFINES", "?s")]
        yes = match_pattern(
            edges_df(spark, G), base + [("a", "E+", "d")]
        )
        assert yes.count() == 2  # existence holds; bindings unchanged
        no = match_pattern(
            edges_df(spark, G), base + [("d", "E+", "a")]
        )
        assert no.count() == 0

    def test_path_in_optional_group(self, spark):
        out = match_pattern(
            edges_df(spark, G),
            [("?f", "DEFINES", "?s")],
            optional=[[("?s", "REFERENCES/^DEFINES", "?g")]],
        )
        got = {(r.f, r.s, r.g) for r in out.collect()}
        assert got == {("f1", "s1", "f2"), ("f2", "s2", "f1")}


# ------------------------------------------------------------------
# Datalog inference
# ------------------------------------------------------------------


def py_infer(triples, rules):
    """Naive fixpoint with a brute-force conjunctive binder."""
    is_var = lambda t: isinstance(t, str) and t.startswith("?")
    facts = set(triples)
    while True:
        new = set()
        for head, body in rules:
            for combo in itertools.product(facts, repeat=len(body)):
                env, ok = {}, True
                for (ps, pp, po), (es, ep, eo) in zip(body, combo):
                    for term, val in ((ps, es), (pp, ep), (po, eo)):
                        if term is None:
                            continue
                        if is_var(term):
                            if env.setdefault(term[1:], val) != val:
                                ok = False
                        elif term != val:
                            ok = False
                    if not ok:
                        break
                if ok:
                    hs, hp, ho = head
                    new.add(
                        (
                            env[hs[1:]] if is_var(hs) else hs,
                            hp,
                            env[ho[1:]] if is_var(ho) else ho,
                        )
                    )
        new -= facts
        if not new:
            return facts - set(triples)
        facts |= new


TC_RULES = [
    (("?x", "TC", "?y"), [("?x", "E", "?y")]),
    (("?x", "TC", "?z"), [("?x", "TC", "?y"), ("?y", "E", "?z")]),
]


class TestInfer:
    def test_tc_on_cycle(self, spark):
        got = {
            (r.subj, r.pred, r.obj)
            for r in infer(edges_df(spark, G), TC_RULES).collect()
        }
        assert got == py_infer(G, TC_RULES)

    def test_chained_rules_and_constants(self, spark):
        rules = [
            (("?f", "USES", "?t"), [("?f", "DEFINES", "?s"),
                                    ("?s", "REFERENCES", "?t")]),
            # chained: consumes the derived USES; constant in body
            (("?f", "USES_S1", "s1"), [("?f", "USES", "s1")]),
        ]
        got = {
            (r.subj, r.pred, r.obj)
            for r in infer(edges_df(spark, G), rules).collect()
        }
        assert got == py_infer(G, rules)
        assert ("f2", "USES_S1", "s1") in got

    def test_same_pred_as_base(self, spark):
        # rules may extend a BASE predicate; derived output excludes
        # base facts (set semantics, anti-joined)
        rules = [(("?x", "E", "?z"), [("?x", "E", "?y"), ("?y", "E", "?z")])]
        got = {
            (r.subj, r.pred, r.obj)
            for r in infer(edges_df(spark, G), rules).collect()
        }
        assert got == py_infer(G, rules)
        assert not (got & set(G))

    def test_include_base(self, spark):
        out = {
            (r.subj, r.pred, r.obj)
            for r in infer(
                edges_df(spark, G), TC_RULES, include_base=True
            ).collect()
        }
        assert out == py_infer(G, TC_RULES) | set(G)

    def test_wildcard_pred_in_body(self, spark):
        rules = [(("?x", "LINKED", "?y"), [("?x", None, "?y")])]
        got = {
            (r.subj, r.pred, r.obj)
            for r in infer(edges_df(spark, G), rules).collect()
        }
        assert got == {(s, "LINKED", o) for s, _, o in G}

    def test_validation(self, spark):
        e = edges_df(spark, G)
        with pytest.raises(ValueError, match="head predicate"):
            infer(e, [(("?x", "?p", "?y"), [("?x", "E", "?y")])])
        with pytest.raises(ValueError, match="range restriction"):
            infer(e, [(("?x", "D", "?z"), [("?x", "E", "?y")])])
        with pytest.raises(ValueError, match="empty positive body"):
            infer(e, [(("?x", "D", "?y"), [])])
        with pytest.raises(ValueError, match="path predicates"):
            infer(e, [(("?x", "D", "?y"), [("?x", "E+", "?y")])])
        with pytest.raises(ValueError, match="body predicate variables"):
            infer(e, [(("?x", "D", "?y"), [("?x", "?p", "?y")])])

    @settings(max_examples=10, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(
                st.sampled_from("abcd"),
                st.just("E"),
                st.sampled_from("abcd"),
            ),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    def test_tc_random(self, spark, edges):
        got = {
            (r.subj, r.pred, r.obj)
            for r in infer(edges_df(spark, edges), TC_RULES).collect()
        }
        assert got == py_infer(edges, TC_RULES)


# ------------------------------------------------------------------
# HyperBall
# ------------------------------------------------------------------


def py_hll_reg(value, b):
    hx = hashlib.md5(value.encode()).hexdigest()
    hi, lo = int(hx[:8], 16), int(hx[8:16], 16)
    bucket = hi >> (32 - b)
    w = ((hi & ((1 << (32 - b)) - 1)) << 32) | lo
    rho = (64 - b + 1) - w.bit_length() if w else 64 - b + 1
    return bucket, rho


def py_balls(edges, max_radius):
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    balls = {n: {n} for n in nodes}
    hist = {0: {n: set(b) for n, b in balls.items()}}
    for t in range(1, max_radius + 1):
        balls = {
            n: balls[n] | set().union(*(balls[w] for w in adj.get(n, ()) )) if adj.get(n) else set(balls[n])
            for n in nodes
        }
        hist[t] = {n: set(b) for n, b in balls.items()}
    return hist


class TestHyperBall:
    def test_registers_exact_replay(self, spark):
        from pawpaw_spark.operators.sketch import hyperball_registers

        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")]
        b, R = 6, 4
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            (r.radius, r.node, r.bucket, r.max_rho)
            for r in hyperball_registers(df, b=b, max_radius=R).collect()
        }
        want = set()
        for t, balls in py_balls(edges, R).items():
            for n, ball in balls.items():
                regs = {}
                for v in ball:
                    bk, rho = py_hll_reg(v, b)
                    regs[bk] = max(regs.get(bk, 0), rho)
                for bk, rho in regs.items():
                    want.add((t, n, bk, rho))
        assert got == want

    def test_neighborhood_function_accuracy(self, spark):
        from pawpaw_spark.operators.sketch import (
            effective_diameter,
            neighborhood_function,
        )

        chain = [(f"n{i}", f"n{i+1}") for i in range(20)]
        df = spark.createDataFrame(chain, "src string, dst string")
        nf = neighborhood_function(df, b=12, max_radius=6)
        rows = {r.radius: r.n_pairs_est for r in nf.collect()}
        # exact N(t) on a 21-chain: sum over v of min(t, hops left)+1
        for t in range(7):
            exact = sum(min(t, 20 - i) + 1 for i in range(21))
            assert abs(rows[t] - exact) / exact < 0.05
        assert rows[0] <= rows[1] <= rows[6]  # monotone
        d = effective_diameter(nf, alpha=0.5)
        assert 0 < d <= 6


# ------------------------------------------------------------------
# FILTER NOT EXISTS groups in match_pattern
# ------------------------------------------------------------------


def py_bindings(triples, pattern):
    """Brute-force conjunctive binder -> set of frozenset(env.items())."""
    is_var = lambda t: isinstance(t, str) and t.startswith("?")
    outs = set()
    for combo in itertools.product(triples, repeat=len(pattern)):
        env, ok = {}, True
        for atom, fact in zip(pattern, combo):
            for term, val in zip(atom, fact):
                if term is None:
                    continue
                if is_var(term):
                    if env.setdefault(term[1:], val) != val:
                        ok = False
                elif term != val:
                    ok = False
            if not ok:
                break
        if ok:
            outs.add(frozenset(env.items()))
    return outs


def py_not_exists(triples, pattern, groups):
    req = py_bindings(triples, pattern)
    req_vars = {k for env in req for k, _ in env}
    survivors = set()
    for env in req:
        d = dict(env)
        blocked = False
        for grp in groups:
            for genv in py_bindings(triples, grp):
                gd = dict(genv)
                if all(d[k] == v for k, v in gd.items() if k in d):
                    blocked = True
                    break
            if blocked:
                break
        if not blocked:
            survivors.add(env)
    return {
        tuple(dict(env)[v] for v in sorted(req_vars)) for env in survivors
    }


class TestNotExists:
    def test_unreferenced_symbols(self, spark):
        out = match_pattern(
            edges_df(spark, G),
            [("?f", "DEFINES", "?s")],
            not_exists=[[("?t", "REFERENCES", "?s")]],
        )
        # s1 and s2 each referenced by the other -> nothing survives
        assert out.count() == 0

    def test_private_var_is_existential(self, spark):
        # nodes with an E-out-edge but no E-in-edge (?p private)
        out = match_pattern(
            edges_df(spark, G),
            [("?x", "E", "?y")],
            not_exists=[[("?p", "E", "?x")]],
        )
        assert {(r.x, r.y) for r in out.collect()} == {("a", "b")}

    def test_multi_triple_group_correlated(self, spark):
        # (f, s) where s does NOT reference a symbol defined elsewhere
        tri = [
            ("?f", "DEFINES", "?s"),
        ]
        grp = [("?s", "REFERENCES", "?t"), ("?g", "DEFINES", "?t")]
        out = match_pattern(edges_df(spark, G), tri, not_exists=[grp])
        want = py_not_exists(G, tri, [grp])
        assert {(r.f, r.s) for r in out.collect()} == want

    def test_path_in_group(self, spark):
        # E-sources that cannot reach d via E+
        out = match_pattern(
            edges_df(spark, G),
            [("?x", "E", "?y")],
            not_exists=[[("?x", "E+", "d")]],
        )
        assert out.count() == 0  # every E-source reaches d
        out2 = match_pattern(
            edges_df(spark, G),
            [("?x", "F", "?y")],
            not_exists=[[("?y", "E+", "b")]],
        )
        # a -F-> c and c reaches b (c->d->b) -> filtered
        assert out2.count() == 0

    def test_two_groups_and_optional_after(self, spark):
        out = match_pattern(
            edges_df(spark, G),
            [("?x", "E", "?y")],
            not_exists=[[("?p", "E", "?x")]],  # keeps only (a, b)
            optional=[[("?x", "F", "?z")]],
        )
        assert {(r.x, r.y, r.z) for r in out.collect()} == {("a", "b", "c")}

    def test_guards(self, spark):
        e = edges_df(spark, G)
        with pytest.raises(ValueError, match=">= 1 triple"):
            match_pattern(e, [("?x", "E", "?y")], not_exists=[[]])
        with pytest.raises(ValueError, match="shares no variable"):
            match_pattern(
                e, [("?x", "E", "?y")],
                not_exists=[[("?p", "DEFINES", "?q")]],
            )

    @settings(max_examples=15, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(
                st.sampled_from("abcd"),
                st.sampled_from(["E", "F"]),
                st.sampled_from("abcd"),
            ),
            min_size=1,
            max_size=10,
            unique=True,
        )
    )
    def test_random_vs_brute(self, spark, edges):
        tri = [("?x", "E", "?y")]
        grp = [("?y", "F", "?z")]
        out = match_pattern(edges_df(spark, edges), tri, not_exists=[grp])
        want = py_not_exists(edges, tri, [grp])
        assert {(r.x, r.y) for r in out.collect()} == want


# ------------------------------------------------------------------
# stratified negation in infer
# ------------------------------------------------------------------


def py_infer_neg(triples, rules):
    """Stratified-negation oracle: strata by iterated constraint
    relaxation, naive fixpoint per stratum, negation checked against
    the frozen lower strata."""
    is_var = lambda t: isinstance(t, str) and t.startswith("?")
    norm = [
        (r[0], list(r[1]), list(r[2]) if len(r) > 2 else []) for r in rules
    ]
    heads = {h[1] for h, _, _ in norm}

    def dp(atoms):
        s = set()
        for _, p, _ in atoms:
            if p is None:
                s |= heads
            elif p in heads:
                s.add(p)
        return s

    stratum = {h: 0 for h in heads}
    for _ in range(len(heads) + 1):
        changed = False
        for h, b, n in norm:
            want = max(
                [stratum[p] for p in dp(b)]
                + [stratum[p] + 1 for p in dp(n)]
                + [stratum[h[1]]]
            )
            if want > stratum[h[1]]:
                stratum[h[1]] = want
                changed = True
        if not changed:
            break
    else:
        raise ValueError("not stratifiable")

    def neg_blocked(env, neg, frozen):
        for atom in neg:
            for fact in frozen:
                ok = True
                e = dict(env)
                for term, val in zip(atom, fact):
                    if term is None:
                        continue
                    if is_var(term):
                        if e.setdefault(term[1:], val) != val:
                            ok = False
                    elif term != val:
                        ok = False
                if ok:
                    return True
        return False

    frozen = set(triples)
    for s in range(max(stratum.values()) + 1):
        facts = set(frozen)
        rs = [r for r in norm if stratum[r[0][1]] == s]
        while True:
            new = set()
            for head, body, neg in rs:
                for combo in itertools.product(facts, repeat=len(body)):
                    env, ok = {}, True
                    for atom, fact in zip(body, combo):
                        for term, val in zip(atom, fact):
                            if term is None:
                                continue
                            if is_var(term):
                                if env.setdefault(term[1:], val) != val:
                                    ok = False
                            elif term != val:
                                ok = False
                        if not ok:
                            break
                    if ok and not neg_blocked(env, neg, frozen):
                        hs, hp, ho = head
                        new.add(
                            (
                                env[hs[1:]] if is_var(hs) else hs,
                                hp,
                                env[ho[1:]] if is_var(ho) else ho,
                            )
                        )
            new -= facts
            if not new:
                break
            facts |= new
        frozen = facts
    return frozen - set(triples)


TREE = [
    ("n2", "CHILD_OF", "n1"),
    ("n3", "CHILD_OF", "n1"),
    ("n4", "CHILD_OF", "n2"),
    ("n5", "CHILD_OF", "n2"),
    ("n6", "CHILD_OF", "n4"),
]

SKIP_RULES = [
    (("?c", "UNDER", "?p"), [("?c", "CHILD_OF", "?p")]),
    (("?c", "UNDER", "?a"), [("?c", "UNDER", "?m"),
                             ("?m", "CHILD_OF", "?a")]),
    (("?c", "SKIP", "?a"), [("?c", "UNDER", "?a")],
     [("?c", "CHILD_OF", "?a")]),
]


class TestInferNeg:
    def test_skip_level_ancestors(self, spark):
        got = {
            (r.subj, r.pred, r.obj)
            for r in infer(edges_df(spark, TREE), SKIP_RULES).collect()
        }
        assert got == py_infer_neg(TREE, SKIP_RULES)
        assert ("n6", "SKIP", "n1") in got
        assert ("n6", "SKIP", "n4") not in got

    def test_negation_of_derived_two_strata(self, spark):
        # LEAFY: nodes under n1 that no one is under (leaves) —
        # negates the DERIVED predicate UNDER, forcing a 3rd stratum
        rules = SKIP_RULES + [
            (("?c", "LEAFY", "n1"), [("?c", "UNDER", "n1")],
             [("?d", "UNDER", "?c")]),
        ]
        got = {
            (r.subj, r.pred, r.obj)
            for r in infer(edges_df(spark, TREE), rules).collect()
        }
        assert got == py_infer_neg(TREE, rules)
        assert {(s, o) for s, p, o in got if p == "LEAFY"} == {
            ("n3", "n1"), ("n5", "n1"), ("n6", "n1"),
        }

    def test_not_stratifiable_raises(self, spark):
        rules = [
            (("?x", "P", "?y"), [("?x", "E", "?y")], [("?y", "P", "?x")]),
        ]
        with pytest.raises(ValueError, match="not stratifiable"):
            infer(edges_df(spark, G), rules)

    def test_negated_wildcard_on_pure_base_heads(self, spark):
        # negated wildcard depends on every derived predicate incl.
        # its own head -> never stratifiable when any rule exists
        rules = [
            (("?x", "Q", "?y"), [("?x", "E", "?y")], [("?y", None, "?x")]),
        ]
        with pytest.raises(ValueError, match="not stratifiable"):
            infer(edges_df(spark, G), rules)

    def test_guards(self, spark):
        e = edges_df(spark, G)
        with pytest.raises(ValueError, match="shares no variable"):
            infer(
                e,
                [(("?x", "D", "?y"), [("?x", "E", "?y")],
                  [("?p", "F", "?q")])],
            )
        with pytest.raises(ValueError, match="head, body"):
            infer(e, [(("?x", "D", "?y"),)])
        with pytest.raises(ValueError, match="constant names or None"):
            infer(
                e,
                [(("?x", "D", "?y"), [("?x", "E", "?y")],
                  [("?x", "?p", "?y")])],
            )

    def test_positive_only_rules_unchanged(self, spark):
        # the 2-tuple form still runs through the stratified engine
        got = {
            (r.subj, r.pred, r.obj)
            for r in infer(edges_df(spark, G), TC_RULES).collect()
        }
        assert got == py_infer(G, TC_RULES)

    @settings(max_examples=10, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(
                st.sampled_from("abcd"),
                st.just("E"),
                st.sampled_from("abcd"),
            ),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    def test_random_neg_vs_oracle(self, spark, edges):
        rules = [
            (("?x", "TC", "?y"), [("?x", "E", "?y")]),
            (("?x", "TC", "?z"), [("?x", "TC", "?y"),
                                  ("?y", "E", "?z")]),
            # strictly-transitive pairs: reachable but not adjacent
            (("?x", "FAR", "?y"), [("?x", "TC", "?y")],
             [("?x", "E", "?y")]),
        ]
        got = {
            (r.subj, r.pred, r.obj)
            for r in infer(edges_df(spark, edges), rules).collect()
        }
        assert got == py_infer_neg(edges, rules)


class TestInferDelta:
    def _split(self, edges):
        v1 = [e for i, e in enumerate(edges) if i % 3 != 0]
        d = [e for i, e in enumerate(edges) if i % 3 == 0]
        return v1, d

    def test_incremental_equals_scratch(self, spark):
        from pawpaw_spark.operators.infer import infer_delta

        v1, d = self._split(G)
        assert v1 and d
        derived1 = infer(edges_df(spark, v1), TC_RULES)
        new = infer_delta(
            edges_df(spark, v1), derived1, edges_df(spark, d), TC_RULES
        )
        got = {
            (r.subj, r.pred, r.obj) for r in derived1.collect()
        } | {(r.subj, r.pred, r.obj) for r in new.collect()}
        assert got == py_infer(G, TC_RULES)
        # and the new set is disjoint from the old one
        assert not (
            {(r.subj, r.pred, r.obj) for r in new.collect()}
            & {(r.subj, r.pred, r.obj) for r in derived1.collect()}
        )

    def test_overlapping_delta_ignored(self, spark):
        from pawpaw_spark.operators.infer import infer_delta

        derived = infer(edges_df(spark, G), TC_RULES)
        new = infer_delta(
            edges_df(spark, G), derived, edges_df(spark, G[:3]), TC_RULES
        )
        assert new.count() == 0

    def test_negation_raises(self, spark):
        from pawpaw_spark.operators.infer import infer_delta

        rules = [
            (("?x", "D", "?y"), [("?x", "E", "?y")], [("?x", "F", "?y")]),
        ]
        with pytest.raises(ValueError, match="positive programs"):
            infer_delta(
                edges_df(spark, G[:2]),
                edges_df(spark, [("x", "D", "y")]),
                edges_df(spark, G[2:3]),
                rules,
            )

    @settings(max_examples=8, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(
                st.sampled_from("abcde"),
                st.just("E"),
                st.sampled_from("abcde"),
            ),
            min_size=2,
            max_size=10,
            unique=True,
        )
    )
    def test_random_incremental(self, spark, edges):
        from pawpaw_spark.operators.infer import infer_delta

        v1, d = self._split(edges)
        if not v1 or not d:
            return
        derived1 = infer(edges_df(spark, v1), TC_RULES)
        new = infer_delta(
            edges_df(spark, v1), derived1, edges_df(spark, d), TC_RULES
        )
        got = {
            (r.subj, r.pred, r.obj) for r in derived1.collect()
        } | {(r.subj, r.pred, r.obj) for r in new.collect()}
        assert got == py_infer(edges, TC_RULES)


class TestHarmonicCentrality:
    def test_chain_accuracy(self, spark):
        from pawpaw_spark.operators.sketch import harmonic_centrality

        n, R = 21, 6
        chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n - 1)]
        df = spark.createDataFrame(chain, "src string, dst string")
        got = {
            r.node: r.harmonic_est
            for r in harmonic_centrality(df, b=12, max_radius=R).collect()
        }
        for i in range(n):
            exact = sum(1.0 / d for d in range(1, min(i, R) + 1))
            if exact == 0:
                assert got[f"n{i:02d}"] == 0.0
            else:
                assert abs(got[f"n{i:02d}"] - exact) / exact < 0.1, (
                    i, got[f"n{i:02d}"], exact)

    def test_star_roles(self, spark):
        from pawpaw_spark.operators.sketch import harmonic_centrality

        star = [(f"l{i}", "c") for i in range(5)]
        df = spark.createDataFrame(star, "src string, dst string")
        got = {
            r.node: r.harmonic_est
            for r in harmonic_centrality(df, b=12, max_radius=3).collect()
        }
        assert all(got[f"l{i}"] == 0.0 for i in range(5))
        assert abs(got["c"] - 5.0) / 5.0 < 0.1
        # outgoing variant flips the roles
        out = {
            r.node: r.harmonic_est
            for r in harmonic_centrality(
                df, b=12, max_radius=3, reverse=False
            ).collect()
        }
        assert out["c"] == 0.0 and all(out[f"l{i}"] > 0 for i in range(5))

    def test_raw_mode_deterministic_python_mirror(self, spark):
        from pawpaw_spark.operators.sketch import harmonic_centrality

        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
        b, R = 6, 3
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r.node: r.harmonic_est
            for r in harmonic_centrality(
                df, b=b, max_radius=R, correction=False
            ).collect()
        }
        # python mirror: balls along reversed edges, raw HLL chain
        m, s = 1 << b, 64 - b + 1
        alpha = 0.709
        balls = py_balls([(d, s_) for s_, d in edges], R)
        want = {}
        for node in balls[0]:
            ests = []
            for t in range(R + 1):
                regs = {}
                for v in balls[t][node]:
                    bk, rho = py_hll_reg(v, b)
                    regs[bk] = max(regs.get(bk, 0), rho)
                denom = sum(
                    1 << (s - regs.get(bk, 0)) for bk in range(m)
                )
                ests.append(alpha * m * m * float(1 << s) / float(denom))
            h = 0.0
            for t in range(1, R + 1):
                h += max(ests[t] - ests[t - 1], 0.0) / float(t)
            want[node] = h
        assert got == want  # bit-identical doubles

    def test_guard(self, spark):
        from pawpaw_spark.operators.sketch import harmonic_centrality

        df = spark.createDataFrame([("a", "b")], "src string, dst string")
        with pytest.raises(ValueError, match="max_radius"):
            harmonic_centrality(df, max_radius=0)


class TestClosenessCentrality:
    def test_chain_accuracy(self, spark):
        from pawpaw_spark.operators.sketch import closeness_centrality

        n, R = 13, 6
        chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n - 1)]
        df = spark.createDataFrame(chain, "src string, dst string")
        got = {
            r.node: (r.reach_est, r.closeness_est)
            for r in closeness_centrality(df, b=12, max_radius=R).collect()
        }
        for i in range(n):
            reach = min(i, R)
            if reach == 0:
                assert got[f"n{i:02d}"] == (0.0, 0.0)
            else:
                sum_d = sum(range(1, reach + 1))
                exact = reach / sum_d
                est = got[f"n{i:02d}"][1]
                assert abs(est - exact) / exact < 0.1, (i, est, exact)

    def test_star_and_outgoing(self, spark):
        from pawpaw_spark.operators.sketch import closeness_centrality

        star = [(f"l{i}", "c") for i in range(5)]
        df = spark.createDataFrame(star, "src string, dst string")
        got = {
            r.node: r.closeness_est
            for r in closeness_centrality(df, b=12, max_radius=3).collect()
        }
        # every path into c has length 1 -> closeness ~1; leaves 0
        assert all(got[f"l{i}"] == 0.0 for i in range(5))
        assert abs(got["c"] - 1.0) < 0.05
        out = {
            r.node: r.closeness_est
            for r in closeness_centrality(
                df, b=12, max_radius=3, reverse=False
            ).collect()
        }
        assert out["c"] == 0.0 and all(
            abs(out[f"l{i}"] - 1.0) < 0.05 for i in range(5)
        )

    def test_raw_mode_matches_harmonic_pivot_chain(self, spark):
        # correction=False: closeness combines the SAME e_t estimates
        # harmonic uses; verify reach/sum_dist against values pivoted
        # out of the shared per-ball estimate table
        from pawpaw_spark.operators.sketch import (
            closeness_centrality,
            hll_estimate,
            hyperball_registers,
        )

        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
        b, R = 6, 3
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r.node: (r.reach_est, r.closeness_est)
            for r in closeness_centrality(
                df, b=b, max_radius=R, correction=False
            ).collect()
        }
        hist = hyperball_registers(df, b=b, max_radius=R,
                                   src_col="dst", dst_col="src")
        est = hll_estimate(hist, b=b, group_cols=("radius", "node"),
                           correction=False)
        per = {}
        for r in est.collect():
            per.setdefault(r.node, {})[r.radius] = r.n_distinct_est
        for node, (reach, clo) in got.items():
            e = per[node]
            gains = [max(e[t] - e[t - 1], 0.0) for t in range(1, R + 1)]
            want_reach = gains[0] + gains[1] + gains[2]
            want_sum = gains[0] * 1.0 + gains[1] * 2.0 + gains[2] * 3.0
            assert reach == want_reach
            assert clo == (want_reach / want_sum if want_sum > 0 else 0.0)


class TestDisconnectedBodyGuard:
    def test_disconnected_body_raises(self, spark):
        from pawpaw_spark.operators.infer import infer

        edges = spark.createDataFrame(
            [("a", "p", "b"), ("c", "q", "d")],
            "subj string, pred string, obj string",
        )
        rules = [(("?x", "r", "?y"), [("?x", "p", "?z"), ("?u", "q", "?y")])]
        with pytest.raises(ValueError, match="disconnected"):
            infer(edges, rules).count()

    def test_disconnected_body_opt_in(self, spark):
        from pawpaw_spark.operators.infer import infer

        edges = spark.createDataFrame(
            [("a", "p", "b"), ("c", "q", "d")],
            "subj string, pred string, obj string",
        )
        rules = [(("?x", "r", "?y"), [("?x", "p", "?z"), ("?u", "q", "?y")])]
        got = infer(edges, rules, allow_product=True).collect()
        assert [(r["subj"], r["pred"], r["obj"]) for r in got] == [
            ("a", "r", "d")
        ]
