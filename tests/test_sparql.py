"""SPARQL text front-end: parse + execute equivalence against direct
match_pattern/construct calls, full-feature queries, and the error
surface."""

import pytest

from pawpaw_spark.operators.graph_query import construct, match_pattern
from pawpaw_spark.operators.sparql import parse_sparql, sparql


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def _t(df):
    return {tuple(r) for r in df.collect()}


KG = [
    ("f1", "DEFINES", "s1"),
    ("f2", "DEFINES", "s2"),
    ("f3", "DEFINES", "s3"),
    ("s1", "REFERENCES", "s2"),
    ("s2", "REFERENCES", "s3"),
    ("s3", "REFERENCES", "missing"),
    ("s3", "REFERENCES", "s1"),
    ("s1", "type", "Sym"),
]


class TestParse:
    def test_select_plan(self):
        plan = parse_sparql(
            "SELECT DISTINCT ?f ?s WHERE { ?f DEFINES ?s . "
            "OPTIONAL { ?s REFERENCES ?t } "
            "FILTER NOT EXISTS { ?x REFERENCES ?s } "
            "FILTER ( ?f != ?s ) }"
        )
        assert plan["form"] == "select"
        assert plan["items"] == [("var", "f"), ("var", "s")]
        assert plan["distinct"]
        (b,) = plan["branches"]
        assert b["pattern"] == [("?f", "DEFINES", "?s")]
        assert b["optional"] == [[("?s", "REFERENCES", "?t")]]
        assert b["not_exists"] == [[("?x", "REFERENCES", "?s")]]
        assert b["neq"] == [("?f", "?s")]

    def test_construct_plan_and_sugar(self):
        plan = parse_sparql(
            'CONSTRUCT { ?s a Thing . ?s LABEL "a b" } WHERE '
            "{ ?s <REFERENCES> ?t }"
        )
        assert plan["form"] == "construct"
        assert plan["template"] == [
            ("?s", "type", "Thing"),
            ("?s", "LABEL", "a b"),
        ]
        assert plan["branches"][0]["pattern"] == [("?s", "REFERENCES", "?t")]

    def test_agg_union_modifier_plan(self):
        plan = parse_sparql(
            "SELECT ?f (COUNT(DISTINCT ?t) AS ?n) (SUM(?t) AS ?tot) WHERE "
            "{ { ?f DEFINES ?t } UNION { ?f REFERENCES ?t . "
            'VALUES ?f { "s1" UNDEF } } } '
            "GROUP BY ?f ORDER BY DESC(?n) ?f LIMIT 7"
        )
        assert plan["items"] == [
            ("var", "f"),
            ("agg", "COUNT", True, "t", "n"),
            ("agg", "SUM", False, "t", "tot"),
        ]
        b1, b2 = plan["branches"]
        assert b1["pattern"] == [("?f", "DEFINES", "?t")]
        assert b2["pattern"] == [("?f", "REFERENCES", "?t")]
        assert b2["values"] == [(["f"], [("s1",), (None,)])]
        assert plan["group_by"] == ["f"]
        assert plan["order_by"] == [("n", False), ("f", True)]
        assert plan["limit"] == 7

    def test_spaced_order_key_and_multivar_values(self):
        plan = parse_sparql(
            "SELECT (COUNT(*) AS ?n) WHERE { ?s P ?o . "
            'VALUES ( ?s ?o ) { ( "a" "b" ) ( "c" UNDEF ) } } '
            "ORDER BY ASC ( ?n )"
        )
        assert plan["items"] == [("agg", "COUNT", False, None, "n")]
        assert plan["branches"][0]["values"] == [
            (["s", "o"], [("a", "b"), ("c", None)])
        ]
        assert plan["order_by"] == [("n", True)]

    def test_errors(self):
        for q, msg in [
            ("INSERT DATA { a P b }", "SELECT, CONSTRUCT, ASK or DESCRIBE"),
            ("DESCRIBE WHERE { ?s P ?o }", "at least one term"),
            ("DESCRIBE ?s", "requires a WHERE group"),
            ("SELECT ?x { ?s P ?o }", "expects .vars, aggregates or"),
            ("SELECT x WHERE { ?s P ?o }", "expects .vars"),
            ("SELECT ?x WHERE { ?s P ?o", "unclosed"),
            ("SELECT ?x WHERE { }", "binds no triples"),
            ("SELECT ?x WHERE { ?s P ?o . } trailing", "trailing"),
            (
                "SELECT ?x WHERE { ?s P ?o . FILTER ( ?a ~ ?b ) }",
                "unsupported FILTER operator",
            ),
            (
                "SELECT ?x WHERE { ?s P ?o . BIND ( ?a AS b ) }",
                "BIND expects AS",
            ),
            (
                "SELECT ?x WHERE { ?s P ?o . "
                "BIND ( STRLEN ( ?a ?b ) AS ?n ) }",
                "exactly one argument",
            ),
            (
                "SELECT ?x WHERE { ?s P ?o . { ?a P ?b } }",
                "bare nested groups",
            ),
            (
                'SELECT (GROUP_CONCAT(*) AS ?g) WHERE { ?x P ?o }',
                "only plain COUNT",
            ),
            (
                'SELECT (SUM(?v;SEPARATOR=",") AS ?g) WHERE { ?x P ?v }',
                "SEPARATOR is only valid",
            ),
            (
                "SELECT ?x WHERE { ?x P ?o } OFFSET two",
                "OFFSET expects an integer",
            ),
            (
                "SELECT ?x WHERE { OPTIONAL { OPTIONAL { ?a P ?b } } }",
                "nested OPTIONAL",
            ),
            (
                "SELECT ?x ?y (COUNT(*) AS ?n) WHERE { ?x P ?o . ?y P ?o } "
                "GROUP BY ?x",
                "must appear in GROUP BY",
            ),
            (
                "SELECT ?x WHERE { ?x P ?o } GROUP BY ?x",
                "requires at least one aggregate",
            ),
            (
                "SELECT (AVG(*) AS ?n) WHERE { ?x P ?o }",
                "unsupported SELECT expression|only plain COUNT",
            ),
            (
                'SELECT ?x WHERE { ?x P ?o . VALUES ?x { ?y } }',
                "must be constants",
            ),
            (
                'SELECT ?x WHERE { ?x P ?o . VALUES ( ?a ?b ) { ( "1" ) } }',
                "VALUES row has 1 terms for 2 vars",
            ),
            (
                "SELECT ?x WHERE { ?x P ?o } LIMIT ten",
                "LIMIT expects an integer",
            ),
        ]:
            with pytest.raises(ValueError, match=msg):
                parse_sparql(q)


class TestExec:
    def test_select_equivalence(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT ?f ?t WHERE { ?f DEFINES ?s . ?s REFERENCES ?t . "
            "FILTER NOT EXISTS { ?g DEFINES ?t } }",
        )
        direct = match_pattern(
            e,
            [("?f", "DEFINES", "?s"), ("?s", "REFERENCES", "?t")],
            not_exists=[[("?g", "DEFINES", "?t")]],
        ).select("f", "t")
        assert _t(q) == _t(direct) == {("f3", "missing")}

    def test_optional_and_star(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT * WHERE { ?s REFERENCES ?t . "
            "OPTIONAL { ?g DEFINES ?t } }",
        )
        assert set(q.columns) == {"s", "t", "g"}
        got = _t(q)
        assert ("s3", "missing", None) in got
        assert ("s1", "s2", "f2") in got

    def test_path_predicate(self, spark):
        e = _triples(spark, KG)
        q = sparql(e, "SELECT ?x WHERE { s1 REFERENCES+ ?x }")
        assert _t(q) == {("s2",), ("s3",), ("missing",), ("s1",)}

    def test_a_keyword_and_type_pred(self, spark):
        e = _triples(spark, KG)
        assert _t(sparql(e, "SELECT ?x WHERE { ?x a Sym }")) == {("s1",)}

    def test_construct_equivalence(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "CONSTRUCT { ?t CALLED_BY ?s } WHERE { ?s REFERENCES ?t }",
        )
        direct = construct(
            e, [("?s", "REFERENCES", "?t")], [("?t", "CALLED_BY", "?s")]
        )
        assert _t(q) == _t(direct)
        assert ("s2", "CALLED_BY", "s1") in _t(q)

    def test_bag_vs_distinct(self, spark):
        # two distinct defining files for the same (s, t) binding: the
        # ?s ?t projection has a duplicate under bag semantics
        e = _triples(
            spark,
            KG + [("f9", "DEFINES", "s1")],
        )
        q_txt = "SELECT ?s ?t WHERE { ?f DEFINES ?s . ?s REFERENCES ?t }"
        set_rows = sparql(e, q_txt).count()
        bag_rows = sparql(e, q_txt, bag=True).count()
        assert bag_rows == set_rows + 1
        # DISTINCT in the text wins over bag=True
        assert (
            sparql(e, q_txt.replace("SELECT", "SELECT DISTINCT"), bag=True)
            .count()
            == set_rows
        )

    def test_unbound_select_var_raises(self, spark):
        e = _triples(spark, KG)
        with pytest.raises(ValueError, match="not bound"):
            sparql(e, "SELECT ?zz WHERE { ?s REFERENCES ?t }")


class TestModifiers:
    def test_group_by_count(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT ?s (COUNT(?t) AS ?n) WHERE { ?s REFERENCES ?t } "
            "GROUP BY ?s",
        )
        assert q.columns == ["s", "n"]
        assert _t(q) == {("s1", 1), ("s2", 1), ("s3", 2)}

    def test_count_excludes_optional_nulls(self, spark):
        # COUNT(?g) counts only solutions where ?g is bound (SPARQL
        # aggregate NULL-skip); COUNT(*) counts every solution
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT (COUNT(*) AS ?all) (COUNT(?g) AS ?resolved) WHERE "
            "{ ?s REFERENCES ?t . OPTIONAL { ?g DEFINES ?t } }",
        )
        [(n_all, n_res)] = q.collect()
        assert (n_all, n_res) == (4, 3)  # s3->missing has no definer

    def test_global_agg_and_distinct_count(self, spark):
        e = _triples(spark, KG + [("f9", "DEFINES", "s1")])
        q = sparql(
            e,
            "SELECT (COUNT(DISTINCT ?s) AS ?nd) (COUNT(?s) AS ?n) WHERE "
            "{ ?f DEFINES ?s }",
        )
        assert _t(q) == {(3, 4)}

    def test_union(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT ?x ?y WHERE { { ?x DEFINES ?y } UNION "
            "{ ?x REFERENCES ?y } }",
        )
        direct = {(s, o) for s, p, o in KG if p in ("DEFINES", "REFERENCES")}
        assert _t(q) == direct

    def test_union_unaligned_vars_null_pad(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT * WHERE { { ?x DEFINES ?d } UNION { ?x a ?cls } }",
        )
        got = _t(q.select("x", "d", "cls"))
        assert ("f1", "s1", None) in got and ("s1", None, "Sym") in got

    def test_values_filter(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            'SELECT ?s ?t WHERE { ?s REFERENCES ?t . '
            'VALUES ?s { "s1" "s3" } }',
        )
        assert _t(q) == {("s1", "s2"), ("s3", "missing"), ("s3", "s1")}

    def test_values_multivar_undef_wildcard(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT ?s ?t WHERE { ?s REFERENCES ?t . "
            'VALUES ( ?s ?t ) { ( "s1" "s2" ) ( "s3" UNDEF ) } }',
        )
        assert _t(q) == {("s1", "s2"), ("s3", "missing"), ("s3", "s1")}

    def test_order_limit(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT ?s (COUNT(?t) AS ?n) WHERE { ?s REFERENCES ?t } "
            "GROUP BY ?s ORDER BY DESC(?n) ?s LIMIT 2",
        )
        assert [tuple(r) for r in q.collect()] == [("s3", 2), ("s1", 1)]

    def test_agg_over_union(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT ?x (COUNT(*) AS ?deg) WHERE { { ?x DEFINES ?y } "
            "UNION { ?x REFERENCES ?y } } GROUP BY ?x ORDER BY "
            "DESC(?deg) ?x LIMIT 1",
        )
        assert [tuple(r) for r in q.collect()] == [("s3", 2)]

    def test_having(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT ?s (COUNT(?t) AS ?n) WHERE { ?s REFERENCES ?t } "
            "GROUP BY ?s HAVING ( ?n > 1 )",
        )
        assert _t(q) == {("s3", 2)}
        with pytest.raises(ValueError, match="HAVING requires"):
            sparql(e, "SELECT ?s WHERE { ?s REFERENCES ?t } "
                      "HAVING ( ?s > 1 )")
        with pytest.raises(ValueError, match="unsupported HAVING operator"):
            sparql(e, "SELECT (COUNT(*) AS ?n) WHERE { ?s REFERENCES ?t } "
                      "HAVING ( ?n ~ 1 )")

    def test_sum_casts_numeric_strings(self, spark):
        e = _triples(
            spark,
            [("a", "WEIGHT", "3"), ("a", "WEIGHT", "4"), ("b", "WEIGHT", "5")],
        )
        q = sparql(
            e,
            "SELECT ?s (SUM(?w) AS ?tot) WHERE { ?s WEIGHT ?w } GROUP BY ?s",
        )
        assert _t(q) == {("a", 7), ("b", 5)}

    def test_minus(self, spark):
        e = _triples(spark, KG)
        # correlated MINUS == NOT EXISTS on the shared var
        q = sparql(
            e,
            "SELECT ?f ?t WHERE { ?f DEFINES ?s . ?s REFERENCES ?t . "
            "MINUS { ?g DEFINES ?t } }",
        )
        assert _t(q) == {("f3", "missing")}
        # uncorrelated MINUS is a NO-OP (disjoint-domain rule) even
        # though the minus pattern has matches
        q2 = sparql(
            e,
            "SELECT ?f WHERE { ?f DEFINES ?s . MINUS { ?x REFERENCES ?y } }",
        )
        assert _t(q2) == {("f1",), ("f2",), ("f3",)}
        # parse shape
        plan = parse_sparql(
            "SELECT ?f WHERE { ?f DEFINES ?s . MINUS { ?s REFERENCES ?t } }"
        )
        assert plan["branches"][0]["minus"] == [[("?s", "REFERENCES", "?t")]]

    def test_ask(self, spark):
        e = _triples(spark, KG)
        def ask(q):
            [(v,)] = sparql(e, q).collect()
            return v
        # variable pattern
        assert ask("ASK { ?s REFERENCES ?t . ?t REFERENCES ?u }") is True
        assert ask("ASK WHERE { ?s REFERENCES s1 . ?s a Sym }") is False
        # fully-constant pattern (canonical ASK): conjunction of probes
        assert ask("ASK { s1 REFERENCES s2 . f1 DEFINES s1 }") is True
        assert ask("ASK { s1 REFERENCES s3 }") is False
        # union: true iff any branch satisfiable
        assert ask("ASK { { s1 REFERENCES s3 } UNION "
                   "{ ?x REFERENCES missing } }") is True
        with pytest.raises(ValueError, match="not supported"):
            ask("ASK { s1 REFERENCES+ s3 }")

    def test_values_unbound_var_raises(self, spark):
        e = _triples(spark, KG)
        with pytest.raises(ValueError, match="not bound"):
            sparql(e, 'SELECT ?s WHERE { ?s REFERENCES ?t . '
                      'VALUES ?zz { "x" } }')


class TestRound4Extensions:
    """FILTER comparisons, BIND, OFFSET, GROUP_CONCAT / SAMPLE,
    subqueries."""

    def test_filter_parse_routing(self):
        # var != var still pushes to the matcher's neq path; every
        # other comparison lands in the post-match filters list
        plan = parse_sparql(
            "SELECT ?a WHERE { ?a P ?b . FILTER ( ?a != ?b ) "
            'FILTER ( ?a = "x" ) FILTER ( ?b < 5 ) }'
        )
        b = plan["branches"][0]
        assert b["neq"] == [("?a", "?b")]
        assert b["filters"] == [
            (("var", "a"), "=", ("lit", "x")),
            (("var", "b"), "<", ("lit", "5")),
        ]

    def test_filter_string_and_numeric(self, spark):
        e = _triples(
            spark,
            [("a", "WEIGHT", "3"), ("b", "WEIGHT", "12"),
             ("c", "WEIGHT", "heavy")],
        )
        # numeric literal -> numeric comparison ("12" > "3" numerically,
        # not lexicographically; non-numeric "heavy" drops via NULL)
        q = sparql(e, "SELECT ?s WHERE { ?s WEIGHT ?w . "
                      "FILTER ( ?w > 4 ) }")
        assert _t(q) == {("b",)}
        # string literal -> lexicographic
        q2 = sparql(e, 'SELECT ?s WHERE { ?s WEIGHT ?w . '
                       'FILTER ( ?w >= "h" ) }')
        assert _t(q2) == {("c",)}
        # var-vs-constant equality
        q3 = sparql(e, 'SELECT ?s WHERE { ?s WEIGHT ?w . '
                       'FILTER ( ?w = "12" ) }')
        assert _t(q3) == {("b",)}

    def test_filter_unbound_var_raises(self, spark):
        e = _triples(spark, KG)
        with pytest.raises(ValueError, match="unbound"):
            sparql(e, "SELECT ?s WHERE { ?s REFERENCES ?t . "
                      "FILTER ( ?zz > 1 ) }").collect()

    def test_bind_exec(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT ?f ?u ?n WHERE { ?f DEFINES ?s . "
            'BIND ( CONCAT ( ?f "::" UCASE ( ?s ) ) AS ?u ) '
            "BIND ( STRLEN ( ?s ) AS ?n ) } ORDER BY ?f",
        )
        assert [tuple(r) for r in q.collect()] == [
            ("f1", "f1::S1", 2), ("f2", "f2::S2", 2), ("f3", "f3::S3", 2),
        ]

    def test_bind_then_filter_scope(self, spark):
        # FILTER sees BIND vars (applied after binds within the group)
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT ?f WHERE { ?f DEFINES ?s . "
            "BIND ( STRLEN ( ?f ) AS ?n ) FILTER ( ?n >= 2 ) }",
        )
        assert _t(q) == {("f1",), ("f2",), ("f3",)}

    def test_bind_errors(self, spark):
        e = _triples(spark, KG)
        with pytest.raises(ValueError, match="rebind"):
            sparql(e, "SELECT ?f WHERE { ?f DEFINES ?s . "
                      "BIND ( ?s AS ?f ) }")
        with pytest.raises(ValueError, match="unbound"):
            sparql(e, "SELECT ?f WHERE { ?f DEFINES ?s . "
                      "BIND ( STRLEN ( ?zz ) AS ?n ) }")

    def test_offset(self, spark):
        e = _triples(spark, KG)
        rows = sparql(
            e, "SELECT ?f WHERE { ?f DEFINES ?s } ORDER BY ?f "
               "LIMIT 2 OFFSET 1"
        ).collect()
        assert [r.f for r in rows] == ["f2", "f3"]
        # OFFSET applies before LIMIT regardless of written order
        rows2 = sparql(
            e, "SELECT ?f WHERE { ?f DEFINES ?s } ORDER BY ?f "
               "OFFSET 2 LIMIT 2"
        ).collect()
        assert [r.f for r in rows2] == ["f3"]

    def test_group_concat_and_sample(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            'SELECT ?s (GROUP_CONCAT(?t;SEPARATOR=",") AS ?ts) '
            "(SAMPLE(?t) AS ?one) WHERE { ?s REFERENCES ?t } GROUP BY ?s",
        )
        # ascending value order; SAMPLE pinned to MIN
        assert _t(q) == {
            ("s1", "s2", "s2"), ("s2", "s3", "s3"),
            ("s3", "missing,s1", "missing"),
        }
        # default separator is a single space; DISTINCT dedups values
        e2 = _triples(spark, KG + [("s3", "REFERENCES", "s1")])
        q2 = sparql(
            e2,
            "SELECT (GROUP_CONCAT(DISTINCT ?t) AS ?ts) WHERE "
            '{ s3 REFERENCES ?t . FILTER ( ?t != "missing" ) }',
            bag=True,
        )
        assert _t(q2) == {("s1",)}

    def test_subquery_join(self, spark):
        e = _triples(spark, KG)
        # per-symbol out-degree computed in a subquery, joined to the
        # defining file on the shared ?s
        q = sparql(
            e,
            "SELECT ?f ?n WHERE { ?f DEFINES ?s . "
            "{ SELECT ?s (COUNT(?t) AS ?n) WHERE { ?s REFERENCES ?t } "
            "GROUP BY ?s } } ORDER BY ?f",
        )
        assert [tuple(r) for r in q.collect()] == [
            ("f1", 1), ("f2", 1), ("f3", 2),
        ]

    def test_subquery_only_group(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT ?s WHERE { { SELECT ?s WHERE { ?s REFERENCES ?t } } }",
        )
        assert _t(q) == {("s1",), ("s2",), ("s3",)}

    def test_subquery_no_shared_vars_raises(self, spark):
        e = _triples(spark, KG)
        with pytest.raises(ValueError, match="no variable shared"):
            sparql(e, "SELECT ?f WHERE { ?f DEFINES ?s . "
                      "{ SELECT ?z WHERE { ?z REFERENCES ?t } } }")

    def test_subquery_limit_scopes_inside(self, spark):
        # the subquery's ORDER/LIMIT runs before the outer join
        e = _triples(spark, KG)
        q = sparql(
            e,
            "SELECT ?f ?s WHERE { ?f DEFINES ?s . "
            "{ SELECT ?s WHERE { ?s REFERENCES ?t } ORDER BY ?s "
            "LIMIT 1 } }",
        )
        assert _t(q) == {("f1", "s1")}

    def test_ask_with_filter(self, spark):
        e = _triples(spark, KG)
        [(v,)] = sparql(
            e, 'ASK { ?s REFERENCES ?t . FILTER ( ?t = "missing" ) }'
        ).collect()
        assert v is True
        [(v2,)] = sparql(
            e, 'ASK { ?s REFERENCES ?t . FILTER ( ?t = "nope" ) }'
        ).collect()
        assert v2 is False


class TestDescribe:
    def test_describe_constant(self, spark):
        e = _triples(spark, KG)
        # every triple touching s1: its definition, its type, its
        # outgoing call, and the call pointing at it
        q = sparql(e, "DESCRIBE s1")
        assert _t(q) == {
            ("f1", "DEFINES", "s1"),
            ("s1", "REFERENCES", "s2"),
            ("s3", "REFERENCES", "s1"),
            ("s1", "type", "Sym"),
        }

    def test_describe_multiple_constants_dedup(self, spark):
        e = _triples(spark, KG)
        # s1 REFERENCES s2 touches both described resources but must
        # appear once
        q = sparql(e, "DESCRIBE s1 s2")
        got = _t(q)
        assert ("s1", "REFERENCES", "s2") in got
        assert len(got) == len(
            {t for t in KG if "s1" in (t[0], t[2]) or "s2" in (t[0], t[2])}
        )

    def test_describe_var_where(self, spark):
        e = _triples(spark, KG)
        q = sparql(
            e,
            'DESCRIBE ?s WHERE { ?f DEFINES ?s . FILTER ( ?s < "s2" ) }',
        )
        assert _t(q) == {
            ("f1", "DEFINES", "s1"),
            ("s1", "REFERENCES", "s2"),
            ("s3", "REFERENCES", "s1"),
            ("s1", "type", "Sym"),
        }

    def test_describe_mixed_and_unbound_raises(self, spark):
        e = _triples(spark, KG)
        q = sparql(e, 'DESCRIBE missing ?g WHERE { ?g DEFINES ?s . '
                      'VALUES ?g { "f2" } }')
        got = _t(q)
        assert ("s3", "REFERENCES", "missing") in got
        assert ("f2", "DEFINES", "s2") in got
        with pytest.raises(ValueError, match="not bound"):
            sparql(e, "DESCRIBE ?zz WHERE { ?s REFERENCES ?t }")


class TestPredicateObjectLists:
    def test_parse_expansion(self):
        plan = parse_sparql(
            "SELECT ?f ?a ?b WHERE { ?f DEFINES ?a ; REFERENCES ?b , ?c . "
            "?c type Sym }"
        )
        assert plan["branches"][0]["pattern"] == [
            ("?f", "DEFINES", "?a"),
            ("?f", "REFERENCES", "?b"),
            ("?f", "REFERENCES", "?c"),
            ("?c", "type", "Sym"),
        ]

    def test_construct_template_lists(self):
        plan = parse_sparql(
            "CONSTRUCT { ?s a Thing ; LABEL ?t , ?u } WHERE "
            "{ ?s REFERENCES ?t . ?s REFERENCES ?u }"
        )
        assert plan["template"] == [
            ("?s", "type", "Thing"),
            ("?s", "LABEL", "?t"),
            ("?s", "LABEL", "?u"),
        ]

    def test_exec_equivalence(self, spark):
        e = _triples(spark, KG)
        sugar = sparql(
            e, "SELECT ?s ?t WHERE { ?s a Sym ; REFERENCES ?t }"
        )
        plain = sparql(
            e, "SELECT ?s ?t WHERE { ?s a Sym . ?s REFERENCES ?t }"
        )
        assert _t(sugar) == _t(plain) == {("s1", "s2")}

    def test_separator_as_term_rejected(self):
        with pytest.raises(ValueError, match="expected a term"):
            parse_sparql("SELECT ?x WHERE { ?x P ; . }")


class TestStringFunctionFilters:
    def test_parse(self):
        plan = parse_sparql(
            'SELECT ?s WHERE { ?s P ?o . FILTER ( REGEX ( ?o "^s[0-9]+$" ) ) '
            'FILTER ( ! STRSTARTS ( ?s "f" ) ) }'
        )
        assert plan["branches"][0]["str_filters"] == [
            ("regex", "o", "^s[0-9]+$", False),
            ("strstarts", "s", "f", True),
        ]

    def test_exec_all_functions(self, spark):
        e = _triples(spark, KG)
        q = sparql(e, 'SELECT ?t WHERE { ?s REFERENCES ?t . '
                      'FILTER ( REGEX ( ?t "^s[0-9]$" ) ) }')
        assert _t(q) == {("s1",), ("s2",), ("s3",)}
        q2 = sparql(e, 'SELECT ?t WHERE { ?s REFERENCES ?t . '
                       'FILTER ( STRSTARTS ( ?t "mis" ) ) }')
        assert _t(q2) == {("missing",)}
        q3 = sparql(e, 'SELECT ?t WHERE { ?s REFERENCES ?t . '
                       'FILTER ( STRENDS ( ?t "ing" ) ) }')
        assert _t(q3) == {("missing",)}
        q4 = sparql(e, 'SELECT ?s WHERE { ?s REFERENCES ?t . '
                       'FILTER ( ! CONTAINS ( ?t "s" ) ) }')
        assert _t(q4) == set()  # every target contains an 's'

    def test_negation_and_ask(self, spark):
        e = _triples(spark, KG)
        q = sparql(e, 'SELECT ?t WHERE { ?s REFERENCES ?t . '
                      'FILTER ( ! REGEX ( ?t "^s" ) ) }')
        assert _t(q) == {("missing",)}
        [(v,)] = sparql(
            e, 'ASK { ?s REFERENCES ?t . FILTER ( STRENDS ( ?t "ing" ) ) }'
        ).collect()
        assert v is True

    def test_errors(self, spark):
        with pytest.raises(ValueError, match="expects"):
            parse_sparql('SELECT ?s WHERE { ?s P ?o . '
                         'FILTER ( REGEX ( "lit" ?o ) ) }')
        with pytest.raises(ValueError, match="negates only"):
            parse_sparql("SELECT ?s WHERE { ?s P ?o . "
                         "FILTER ( ! ?a != ?b ) }")
        e = _triples(spark, KG)
        with pytest.raises(ValueError, match="unbound"):
            sparql(e, 'SELECT ?s WHERE { ?s P ?o . '
                      'FILTER ( CONTAINS ( ?zz "x" ) ) }').collect()


class TestSparqlNegatedPropertySet:
    """The text front-end inherits path NPS (!p / !(p1|p2)) through the
    shared parse_path compiler — pinned so a tokenizer change that
    splits '!' off the predicate token fails loudly."""

    def _t(self, spark):
        return spark.createDataFrame(
            [("a", "knows", "b"), ("a", "likes", "c"), ("b", "hates", "c")],
            "subj string, pred string, obj string",
        )

    def test_single(self, spark):
        from pawpaw_spark.operators.sparql import sparql

        out = sparql(self._t(spark), "SELECT ?x ?y WHERE { ?x !knows ?y }")
        assert sorted((r["x"], r["y"]) for r in out.collect()) == [
            ("a", "c"), ("b", "c"),
        ]

    def test_set(self, spark):
        from pawpaw_spark.operators.sparql import sparql

        out = sparql(
            self._t(spark), "SELECT ?x ?y WHERE { ?x !(knows|hates) ?y }"
        )
        assert [(r["x"], r["y"]) for r in out.collect()] == [("a", "c")]


QUADKG = [
    ("x", "CALLS", "y", "g1"),
    ("y", "CALLS", "z", "g1"),
    ("y", "TAG", "hot", "g1"),
    ("x", "CALLS", "y", "g2"),
    ("y", "CALLS", "w", "g2"),
    ("q", "TAG", "hot", "g2"),
    ("x", "CALLS", "d", None),
]


def _quads(spark):
    return spark.createDataFrame(
        QUADKG, "subj string, pred string, obj string, graph string"
    )


class TestGraphClause:
    def test_parse_graph_block(self):
        plan = parse_sparql(
            "SELECT ?g ?a WHERE { GRAPH ?g { ?a CALLS ?b . ?b TAG hot } }"
        )
        (b,) = plan["branches"]
        assert b["graph"] == "?g"
        assert b["pattern"] == [("?a", "CALLS", "?b"), ("?b", "TAG", "hot")]

    def test_variable_graph_scopes_joins(self, spark):
        got = _t(sparql(
            _quads(spark),
            "SELECT ?g ?a ?b WHERE "
            "{ GRAPH ?g { ?a CALLS ?b . ?b TAG hot } }",
        ))
        # only g1 has the hot tag on a call target
        assert got == {("g1", "x", "y")}

    def test_constant_graph_with_path(self, spark):
        got = _t(sparql(
            _quads(spark),
            "SELECT ?a ?b WHERE { GRAPH g1 { ?a CALLS+ ?b } }",
        ))
        assert got == {("x", "y"), ("y", "z"), ("x", "z")}

    def test_aggregate_per_graph(self, spark):
        got = _t(sparql(
            _quads(spark),
            "SELECT ?g (COUNT(*) AS ?n) WHERE "
            "{ GRAPH ?g { ?a CALLS ?b } } GROUP BY ?g ORDER BY ?g",
        ))
        assert got == {("g1", 2), ("g2", 2)}

    def test_union_of_graph_branches(self, spark):
        got = _t(sparql(
            _quads(spark),
            "SELECT ?a ?b WHERE { { GRAPH g1 { ?a CALLS ?b } } UNION "
            "{ GRAPH g2 { ?a CALLS ?b } } }",
        ))
        assert got == {("x", "y"), ("y", "z"), ("y", "w")}

    def test_mixed_triples_outside_graph_raise(self):
        with pytest.raises(ValueError, match="outside the GRAPH"):
            parse_sparql(
                "SELECT ?a WHERE { ?a CALLS ?b . GRAPH ?g "
                "{ ?b TAG ?t } }"
            )

    def test_nested_graph_raises(self):
        with pytest.raises(ValueError, match="nest"):
            parse_sparql(
                "SELECT ?a WHERE { GRAPH ?g { GRAPH ?h "
                "{ ?a CALLS ?b } } }"
            )

    def test_variable_graph_filter_applies(self, spark):
        got = _t(sparql(
            _quads(spark),
            'SELECT ?g ?a WHERE { GRAPH ?g { ?a CALLS ?b . '
            'FILTER ( ?b = y ) } }',
        ))
        assert got == {("g1", "x"), ("g2", "x")}

    def test_optional_inside_graph_block(self, spark):
        got = _t(sparql(
            _quads(spark),
            "SELECT ?g ?a ?t WHERE { GRAPH ?g "
            "{ ?a CALLS ?b . OPTIONAL { ?b TAG ?t } } }",
        ))
        assert ("g1", "x", "hot") in got
        assert ("g2", "x", None) in got

    def test_not_exists_inside_graph_block(self, spark):
        got = _t(sparql(
            _quads(spark),
            "SELECT ?g ?a ?b WHERE { GRAPH ?g "
            "{ ?a CALLS ?b . FILTER NOT EXISTS { ?b TAG ?t } } }",
        ))
        assert got == {("g1", "y", "z"), ("g2", "x", "y"),
                       ("g2", "y", "w")}


class TestRound5Extensions:
    """FILTER EXISTS / IN / arithmetic / IF / COALESCE /
    STRBEFORE / STRAFTER / REPLACE."""

    NUM = KG + [("f1", "SIZE", "10"), ("f2", "SIZE", "25"),
                ("f3", "SIZE", "7")]

    def test_filter_exists_correlated(self, spark):
        got = _t(sparql(_triples(spark, KG), """
            SELECT ?s WHERE {
              ?f DEFINES ?s .
              FILTER EXISTS { ?s REFERENCES ?t }
            }"""))
        assert got == {("s1",), ("s2",), ("s3",)}
        got = _t(sparql(_triples(spark, KG), """
            SELECT ?s WHERE {
              ?f DEFINES ?s .
              FILTER EXISTS { ?x REFERENCES ?s }
            }"""))
        assert got == {("s1",), ("s2",), ("s3",)} - {("missing",)}

    def test_filter_exists_uncorrelated_gate(self, spark):
        q = """
            SELECT ?f WHERE {
              ?f DEFINES ?s .
              FILTER EXISTS { ?x REFERENCES %s }
            }"""
        assert len(_t(sparql(_triples(spark, KG), q % "s2"))) == 3
        assert _t(sparql(_triples(spark, KG), q % "nothere")) == set()

    def test_filter_in_and_not_in(self, spark):
        got = _t(sparql(_triples(spark, KG), """
            SELECT ?s WHERE {
              ?f DEFINES ?s . FILTER ( ?s IN ( s1 s3 zz ) )
            }"""))
        assert got == {("s1",), ("s3",)}
        got = _t(sparql(_triples(spark, KG), """
            SELECT ?s WHERE {
              ?f DEFINES ?s . FILTER ( ?s NOT IN ( s1 s3 ) )
            }"""))
        assert got == {("s2",)}

    def test_arithmetic_bind_and_filter(self, spark):
        got = _t(sparql(_triples(spark, self.NUM), """
            SELECT ?f ?d WHERE {
              ?f SIZE ?n .
              BIND ( ( ( ?n * 2 ) + 1 ) AS ?d )
              FILTER ( ( ?n + 5 ) > 14 )
            }"""))
        assert got == {("f1", 21.0), ("f2", 51.0)}

    def test_arithmetic_division_and_minus(self, spark):
        got = _t(sparql(_triples(spark, self.NUM), """
            SELECT ?f ?h WHERE {
              ?f SIZE ?n .
              BIND ( ( ( ?n - 5 ) / 2 ) AS ?h )
              FILTER ( ?n >= 10 )
            }"""))
        assert got == {("f1", 2.5), ("f2", 10.0)}

    def test_arith_nonnumeric_var_drops_row(self, spark):
        # SPARQL type error -> NULL -> the row doesn't qualify
        got = _t(sparql(_triples(spark, self.NUM), """
            SELECT ?f WHERE {
              ?f DEFINES ?s .
              FILTER ( ( ?s + 1 ) > 0 )
            }"""))
        assert got == set()

    def test_if_and_coalesce(self, spark):
        got = _t(sparql(_triples(spark, self.NUM), """
            SELECT ?f ?c WHERE {
              ?f SIZE ?n .
              BIND ( IF ( ( ?n >= 10 ) "big" "small" ) AS ?c )
            }"""))
        assert got == {("f1", "big"), ("f2", "big"), ("f3", "small")}
        got = _t(sparql(_triples(spark, KG), """
            SELECT ?s ?v WHERE {
              ?s REFERENCES ?o .
              OPTIONAL { ?o REFERENCES ?t }
              BIND ( COALESCE ( ?t "leaf" ) AS ?v )
            }"""))
        assert ("s2", "missing") in got or ("s2", "s1") in got
        assert ("s3", "leaf") in got  # s3 -> missing: no onward ref

    def test_strbefore_strafter_replace(self, spark):
        rows = [("a", "DEFINES", "mod.fn"), ("b", "DEFINES", "plain")]
        got = _t(sparql(_triples(spark, rows), """
            SELECT ?s ?p ?a ?r WHERE {
              ?x DEFINES ?s .
              BIND ( STRBEFORE ( ?s "." ) AS ?p )
              BIND ( STRAFTER ( ?s "." ) AS ?a )
              BIND ( REPLACE ( ?s "[aeiou]" "_" ) AS ?r )
            }"""))
        assert got == {
            ("mod.fn", "mod", "fn", "m_d.fn"),
            ("plain", "", "", "pl__n"),
        }

    def test_strbefore_strafter_unbound_input_stays_unbound(self, spark):
        rows = [("a", "DEFINES", "mod.fn"), ("b", "DEFINES", "plain"),
                ("mod.fn", "DOC", "x.y")]
        got = _t(sparql(_triples(spark, rows), """
            SELECT ?s ?p ?a WHERE {
              ?x DEFINES ?s .
              OPTIONAL { ?s DOC ?d }
              BIND ( STRBEFORE ( ?d "." ) AS ?p )
              BIND ( STRAFTER ( ?d "." ) AS ?a )
            }"""))
        assert got == {("mod.fn", "x", "y"), ("plain", None, None)}

    def test_exists_in_construct_raises(self, spark):
        with pytest.raises(ValueError, match="CONSTRUCT"):
            sparql(_triples(spark, KG), """
                CONSTRUCT { ?s a Thing } WHERE {
                  ?f DEFINES ?s .
                  FILTER EXISTS { ?s REFERENCES ?t }
                }""")

    def test_in_unbound_raises(self, spark):
        with pytest.raises(ValueError, match="unbound"):
            sparql(_triples(spark, KG), """
                SELECT ?s WHERE {
                  ?f DEFINES ?s . FILTER ( ?zz IN ( a b ) )
                }""").collect()

    def test_replace_requires_literal_args(self):
        with pytest.raises(ValueError, match="literal"):
            parse_sparql("""
                SELECT ?s WHERE {
                  ?f DEFINES ?s .
                  BIND ( REPLACE ( ?s ?s "x" ) AS ?r )
                }""")

    def test_exists_correlates_on_bind_variable(self, spark):
        # Review regression: EXISTS runs AFTER BIND (end-of-group
        # filter scope), so correlation on a BIND-introduced variable
        # is a real per-row semi join, not an uncorrelated gate.
        rows = [
            ("f1", "DEFINES", "A"), ("f2", "DEFINES", "B"),
            ("x", "REFERENCES", "a"),
        ]
        got = _t(sparql(_triples(spark, rows), """
            SELECT ?s WHERE {
              ?f DEFINES ?s .
              BIND ( LCASE ( ?s ) AS ?l )
              FILTER EXISTS { ?x REFERENCES ?l }
            }"""))
        assert got == {("A",)}

    def test_exists_with_optional_unbound_shared_variable(self, spark):
        # SPARQL substitutes only BOUND variables into the EXISTS
        # pattern: an OPTIONAL-unbound ?x stays free, so the row
        # survives iff any P edge exists at all; a bound ?x still
        # correlates per row.
        rows = [
            ("a", "KIND", "T"), ("b", "KIND", "T"), ("c", "KIND", "T"),
            ("b", "Q", "x1"), ("c", "Q", "x2"), ("x1", "P", "y"),
        ]
        q = """
            SELECT ?s ?x WHERE {
              ?s KIND T .
              OPTIONAL { ?s Q ?x }
              FILTER EXISTS { ?x %s ?y }
            }"""
        got = _t(sparql(_triples(spark, rows), q % "P"))
        assert got == {("a", None), ("b", "x1")}
        # no edge of the predicate: the unbound row fails the gate too
        assert _t(sparql(_triples(spark, rows), q % "NOPE")) == set()


class TestSparqlUpdate:
    """SPARQL 1.1 UPDATE: INSERT/DELETE DATA, DELETE WHERE, and the
    DELETE/INSERT WHERE modify form (functional — returns the updated
    set of triples)."""

    ROWS = [
        ("f1", "DEFINES", "s1"),
        ("s1", "REFERENCES", "s2"),
        ("s1", "REFERENCES", "sym:f_missing_3"),
        ("f1", "DEFINES", "s1"),  # duplicate collapses (set semantics)
    ]

    def _e(self, spark):
        return _triples(spark, self.ROWS)

    def test_insert_and_delete_data(self, spark):
        from pawpaw_spark.operators.sparql import sparql_update

        got = _t(sparql_update(
            self._e(spark), "INSERT DATA { f2 DEFINES s9 . s9 a Thing }"
        ))
        assert ("f2", "DEFINES", "s9") in got
        assert ("s9", "type", "Thing") in got  # 'a' sugar
        assert len(got) == 5  # 3 distinct originals + 2 inserted
        got = _t(sparql_update(
            self._e(spark), "DELETE DATA { f1 DEFINES s1 }"
        ))
        assert got == {("s1", "REFERENCES", "s2"),
                       ("s1", "REFERENCES", "sym:f_missing_3")}

    def test_delete_where_shorthand(self, spark):
        from pawpaw_spark.operators.sparql import sparql_update

        got = _t(sparql_update(
            self._e(spark), "DELETE WHERE { ?s REFERENCES ?o }"
        ))
        assert got == {("f1", "DEFINES", "s1")}

    def test_modify_with_bind_and_filter(self, spark):
        from pawpaw_spark.operators.sparql import sparql_update

        got = _t(sparql_update(self._e(spark), """
            DELETE { ?s REFERENCES ?t } INSERT { ?s BROKEN_REF ?g }
            WHERE {
              ?s REFERENCES ?t .
              FILTER ( STRSTARTS ( ?t "sym:f_missing_" ) )
              BIND ( STRAFTER ( ?t "missing_" ) AS ?g )
            }"""))
        assert got == {
            ("f1", "DEFINES", "s1"),
            ("s1", "REFERENCES", "s2"),
            ("s1", "BROKEN_REF", "3"),
        }

    def test_optional_null_instantiates_nothing(self, spark):
        from pawpaw_spark.operators.sparql import sparql_update

        got = _t(sparql_update(self._e(spark), """
            INSERT { ?s SEEN ?x } WHERE {
              ?f DEFINES ?s . OPTIONAL { ?s NOPE ?x }
            }"""))
        assert got == {tuple(r) for r in self.ROWS}

    def test_validation(self, spark):
        from pawpaw_spark.operators.sparql import (
            parse_update,
            sparql_update,
        )

        with pytest.raises(ValueError, match="constant"):
            parse_update("INSERT DATA { ?s DEFINES x }")
        with pytest.raises(ValueError, match="plain triple pattern"):
            parse_update(
                "DELETE WHERE { ?s DEFINES ?o . FILTER ( ?s = x ) }"
            )
        with pytest.raises(ValueError, match="INSERT or DELETE"):
            parse_update("SELECT ?s WHERE { ?s DEFINES ?o }")
        with pytest.raises(ValueError, match="not bound"):
            sparql_update(
                self._e(spark),
                "INSERT { ?zz SEEN x } WHERE { ?s REFERENCES ?o }",
            ).collect()
        with pytest.raises(ValueError, match="trailing"):
            parse_update("DELETE DATA { a b c } extra")


class TestCompileRoundTrips:
    """Compiling a query is a chain of py4j calls on the driver; the
    count is pinned so per-call overhead does not creep back in."""

    # 26 measured with PySpark's per-call origin capture off (a
    # get_spark default) and no identity projection; 37 with
    # match_pattern's final projection always applied, 86 with the
    # capture on
    MAX_ROUND_TRIPS = 32

    def test_one_triple_select(self, spark):
        import threading

        e = _triples(spark, KG)
        text = "SELECT ?f ?t WHERE { ?f DEFINES ?t }"
        sparql(e, text)  # first compile warms PySpark's one-off lookups
        client = spark.sparkContext._gateway._gateway_client
        me = threading.get_ident()
        calls = []
        send = client.send_command

        def counted(*args, **kwargs):
            if threading.get_ident() == me:
                calls.append(1)
            return send(*args, **kwargs)

        client.send_command = counted
        try:
            q = sparql(e, text)
        finally:
            del client.send_command
        assert len(calls) <= self.MAX_ROUND_TRIPS, len(calls)
        assert _t(q) == {("f1", "s1"), ("f2", "s2"), ("f3", "s3")}
