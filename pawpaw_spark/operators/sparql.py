"""SPARQL text front-end for the motif matcher.

:mod:`graph_query` exposes the SPARQL algebra (BGP joins, property
paths, OPTIONAL, FILTER NOT EXISTS, inequality filters, CONSTRUCT) as
Python structures; this module adds the QUERY-STRING surface, so the
engine answers the question a KG consumer actually types::

    sparql(edges, '''
        SELECT ?g (COUNT(?s) AS ?n) WHERE {
          ?f DEFINES ?s .
          ?s REFERENCES ?t .
          OPTIONAL { ?g DEFINES ?t }
          FILTER NOT EXISTS { ?s REFERENCES ?f }
        }
        GROUP BY ?g ORDER BY DESC(?n) LIMIT 10
    ''')

Supported grammar (a deliberately small, canonical-layout subset —
see the parser doc for the exact token rules):

* ``SELECT [DISTINCT] (?v | (FN([DISTINCT] ?v|*) AS ?alias) ... | *)
  WHERE { ... } [GROUP BY ?v ...] [HAVING ( ?alias op num ) ...]\n  [ORDER BY key ...] [LIMIT n] [OFFSET n]``
  where ``FN`` is ``COUNT`` / ``SUM`` / ``MIN`` / ``MAX`` / ``AVG`` /
  ``SAMPLE`` (pinned to MIN for determinism) / ``GROUP_CONCAT``
  (ascending-value order, optional flush ``;SEPARATOR="..."``, default
  a single space) and an order key is ``?v`` / ``ASC(?v)`` /
  ``DESC(?v)``; OFFSET applies before LIMIT per the spec
* ``CONSTRUCT { template triples } WHERE { ... }``
* ``ASK [WHERE] { ... }`` -> one row ``ask boolean`` (existence
  probes with ``limit(1)``; fully-constant patterns — the canonical
  ASK shape — compile to pushed-filter probes)
* ``DESCRIBE (<node> | ?v)+ [WHERE { ... }]`` -> the distinct triples
  whose subject OR object is a described resource (constants, plus
  each ?v's WHERE bindings) — the symmetric concise-bounded-
  description pin, since SPARQL leaves the description form
  implementation-defined; constants push to the scan, variable sets
  apply as equi-semi-joins (never an OR-condition join)
* WHERE body: a plain group, or a union chain
  ``{ group } UNION { group } [UNION { group } ...]``
* group body: triples terminated by ``.``; ``OPTIONAL { ... }``;
  ``FILTER NOT EXISTS { ... }``; ``FILTER EXISTS { ... }`` (a SEMI
  join on the shared variables — the dual of NOT EXISTS; on the bound
  ones only where an OPTIONAL left some unbound; uncorrelated = a
  <=1-row broadcast ASK gate); ``MINUS { ... }`` (anti-join on the
  shared variables; an uncorrelated group is a no-op per SPARQL's
  disjoint-domain rule); ``FILTER ( a op b )`` with op ``=`` ``!=``
  ``<`` ``<=`` ``>`` ``>=`` over ?vars, constants, and parenthesized
  arithmetic ``( x + y )`` ``( x - y )`` ``( x * y )`` ``( x / y )``
  subexpressions — numeric when either side is a numeric literal or an
  arithmetic expression (var sides TRY_CAST to double; arithmetic is
  double-typed end to end), lexicographic otherwise, and ``?a != ?b``
  still pushes into the matcher's earliest join; ``FILTER ( ?v [NOT]
  IN ( term term ... ) )`` literal membership (compiles to ``isin``);
  ``FILTER ( [!] FN ( ?v "literal" ) )``
  string-function filters with FN ``REGEX`` (Java-regex semantics) /
  ``STRSTARTS`` / ``STRENDS`` / ``CONTAINS`` and optional ``!``
  negation; ``BIND ( expr AS ?v )`` with expr a term, arithmetic, an
  ``IF ( ( a cmp b ) then else )`` conditional, or a
  ``CONCAT`` / ``COALESCE`` (n-ary) / ``STRLEN`` / ``LCASE`` /
  ``UCASE`` / ``STR`` (unary) / ``STRBEFORE`` / ``STRAFTER`` (binary,
  literal separator; absent -> ``""``) / ``REPLACE`` (ternary, regex,
  global — mirror with DuckDB's ``'g'`` flag) call
  (canonical whitespace-separated parens, nesting allowed);
  ``{ SELECT ... }`` subqueries (evaluated independently, joined to
  the enclosing group on the shared variables — sharing none raises);
  ``VALUES ?x { term ... }`` / ``VALUES ( ?x ?y ) { ( term term )
  ... }`` (parens whitespace-separated, like FILTER; ``UNDEF`` binds
  NULL)
* UPDATE (:func:`sparql_update` — functional, returns the updated
  triple SET): ``INSERT DATA { }`` / ``DELETE DATA { }`` (constant
  templates), ``DELETE { } [INSERT { }] WHERE { group }`` with the
  full group feature set, and the ``DELETE WHERE { pattern }``
  shorthand; solutions leaving a template variable NULL instantiate
  nothing (spec rule)
* terms: ``?var``; ``<iri>`` (angles stripped); ``"literal"``;
  bare names (including PROPERTY PATH expressions — any predicate
  token with ``/ | ^ + * ? ( )`` compiles through
  :func:`graph_query.path_pairs`); the keyword ``a`` maps to the
  configured ``type`` predicate per SPARQL shorthand.

Parsing produces exactly the structures :func:`graph_query.
match_pattern` / :func:`graph_query.construct` accept, so the text
surface inherits every planning property documented there (slice
pushdown, greedy/cost-based join ordering, anti-join negation,
left-join OPTIONAL, fixpoint path closures); the solution modifiers
compile to plain DataFrame ops Catalyst already optimizes — GROUP BY
to one hash aggregate (partial map-side combine for COUNT/SUM/MIN/
MAX), ORDER BY + LIMIT to TakeOrderedAndProject (a per-partition
top-k + a driver-side k-merge, never a full sort), UNION to a
zero-shuffle unionByName, VALUES to a broadcast inner join on the
shared variables (the literal table is driver-literal-sized by
construction). ``;``/``,`` predicate-object
lists (whitespace-separated, in WHERE groups and CONSTRUCT templates)
expand to plain triples at parse time. Out of scope (raise or parse
error): expressions beyond the forms above (a single aggregate per
alias, a single comparison per FILTER/HAVING clause, the listed BIND
functions).

Aggregation semantics note: the WHERE solutions feeding GROUP BY are
the DISTINCT variable bindings (SPARQL's solution multiset over a
set-semantics RDF graph — a BGP derives each binding exactly once);
duplicate rows in the edge table therefore do not inflate COUNT, and
``COUNT(?v)`` counts solutions where ``?v`` is bound (OPTIONAL NULLs
excluded) exactly per the spec. ``SUM``/``AVG`` cast the (string)
node values to long/double, NULL when non-numeric.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pawpaw_spark.operators.graph_query import (
    _vars_of,
    construct,
    match_pattern,
    match_quads,
)

# a token is a quoted literal, or a standalone brace/dot/paren/!=,
# or a run of anything else (so property paths keep their parens as
# long as they contain no whitespace). '(' ')' are standalone tokens
# ONLY when whitespace-separated, which the FILTER/VALUES forms
# require.
_TOKEN_RE = re.compile(r'"[^"]*"|\S+')
_KEYWORDS = {"select", "construct", "where", "distinct", "optional",
             "filter", "not", "exists", "union", "values", "group",
             "order", "by", "limit", "undef", "bind", "offset"}

_AGG_RE = re.compile(
    r"^\(\s*(COUNT|SUM|MIN|MAX|AVG|SAMPLE|GROUP_CONCAT)\s*\(\s*(DISTINCT\s+)?"
    r"(\?\w+|\*)\s*(?:;\s*SEPARATOR\s*=\s*\"([^\"]*)\"\s*)?\)\s+AS\s+(\?\w+)\s*\)$",
    re.IGNORECASE,
)
_ORDER_KEY_RE = re.compile(r"^(?:(ASC|DESC)\s*\(\s*)?(\?\w+)\s*\)?$",
                           re.IGNORECASE)


def _tokenize(q: str) -> list:
    # braces are split off even when written flush against a term;
    # triple-terminating dots must be whitespace-separated (canonical
    # SPARQL layout) because node ids may legitimately contain dots
    q = re.sub(r"([{}])", r" \1 ", q)
    return _TOKEN_RE.findall(q)


class _P:
    def __init__(self, toks: list, type_pred: str):
        self.toks, self.i, self.type_pred = toks, 0, type_pred

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self, expect: str | None = None):
        t = self.peek()
        if t is None:
            raise ValueError(f"unexpected end of query (wanted {expect!r})")
        if expect is not None and t.lower() != expect:
            raise ValueError(f"expected {expect!r}, got {t!r}")
        self.i += 1
        return t

    def term(self) -> str:
        t = self.take()
        if t in ("{", "}", ".", ";", ",") or t.lower() in _KEYWORDS:
            raise ValueError(f"expected a term, got {t!r}")
        if t.startswith("<") and t.endswith(">"):
            return t[1:-1]
        if t.startswith('"') and t.endswith('"'):
            return t[1:-1]
        if t == "a":
            return self.type_pred
        return t

    def _values_block(self):
        """``VALUES`` already consumed: parse the variable row and the
        data block -> (vars, rows) with ``UNDEF`` -> None."""
        if self.peek() == "(":
            self.take("(")
            vs = []
            while self.peek() != ")":
                v = self.take()
                if not v.startswith("?"):
                    raise ValueError(f"VALUES expects ?vars, got {v!r}")
                vs.append(v[1:])
            self.take(")")
        else:
            v = self.take()
            if not v.startswith("?"):
                raise ValueError(f"VALUES expects ?vars, got {v!r}")
            vs = [v[1:]]
        if not vs:
            raise ValueError("VALUES needs at least one ?var")
        self.take("{")
        rows = []
        while self.peek() != "}":
            if self.peek() is None:
                raise ValueError("unclosed '{' in VALUES block")
            if len(vs) == 1 and self.peek() != "(":
                t = self.take()
                rows.append((None if t.lower() == "undef"
                             else self._const(t),))
                continue
            self.take("(")
            row = []
            while self.peek() != ")":
                t = self.take()
                row.append(None if t.lower() == "undef"
                           else self._const(t))
            self.take(")")
            if len(row) != len(vs):
                raise ValueError(
                    f"VALUES row has {len(row)} terms for {len(vs)} vars"
                )
            rows.append(tuple(row))
        self.take("}")
        return vs, rows

    def _const(self, t: str) -> str:
        if t.startswith("?"):
            raise ValueError(f"VALUES data must be constants, got {t!r}")
        if t.startswith("<") and t.endswith(">"):
            return t[1:-1]
        if t.startswith('"') and t.endswith('"'):
            return t[1:-1]
        return t

    def _fterm(self, t: str):
        """A FILTER comparison side -> ('var', name) | ('lit', text)."""
        if t.startswith("?"):
            return ("var", t[1:])
        return ("lit", self._const(t))

    _BIND_FNS = ("concat", "strlen", "lcase", "ucase", "str",
                 "coalesce", "strbefore", "strafter", "replace")
    _STR_FNS = ("regex", "strstarts", "strends", "contains")
    _ARITH_OPS = ("+", "-", "*", "/")

    def _bind_expr(self):
        """A BIND expression (canonical layout: parens whitespace-
        separated) -> ('var', name) | ('lit', text) | ('fn', name,
        [args...]) | ('arith', op, [a, b]) | ('if', cond, then, else).
        Functions: CONCAT / COALESCE (n-ary), STRLEN / LCASE / UCASE /
        STR (unary), STRBEFORE / STRAFTER (binary), REPLACE (ternary,
        regex semantics); ``( a op b )`` arithmetic with op + - * /
        (numeric: sides TRY_CAST to double); ``IF ( ( a cmp b ) then
        else )``; nesting allowed."""
        t = self.take()
        low = t.lower()
        if t == "(":
            # arithmetic subexpression ( a op b ) — whitespace parens
            a = self._bind_expr()
            op = self.take()
            if op not in self._ARITH_OPS:
                raise ValueError(
                    f"expected arithmetic operator (+ - * /), got {op!r}"
                )
            b = self._bind_expr()
            self.take(")")
            return ("arith", op, [a, b])
        if low == "if" and self.peek() == "(":
            self.take("(")
            cond = self._cond_expr()
            then = self._bind_expr()
            other = self._bind_expr()
            self.take(")")
            return ("if", cond, then, other)
        if low in self._BIND_FNS and self.peek() == "(":
            self.take("(")
            args = []
            while self.peek() != ")":
                if self.peek() is None:
                    raise ValueError(f"unclosed '(' in BIND {low.upper()}")
                args.append(self._bind_expr())
            self.take(")")
            arity = {"strbefore": 2, "strafter": 2, "replace": 3}
            if low in ("concat", "coalesce"):
                if not args:
                    raise ValueError(
                        f"{low.upper()} needs at least one argument"
                    )
            elif low in arity:
                if len(args) != arity[low]:
                    raise ValueError(
                        f"{low.upper()} takes exactly {arity[low]} "
                        f"arguments, got {len(args)}"
                    )
                for a in args[1:]:
                    if a[0] != "lit":
                        raise ValueError(
                            f"{low.upper()} separator/pattern arguments "
                            "must be string literals"
                        )
            elif len(args) != 1:
                raise ValueError(
                    f"{low.upper()} takes exactly one argument, got "
                    f"{len(args)}"
                )
            return ("fn", low, args)
        if t.startswith("?"):
            return ("var", t[1:])
        return ("lit", self._const(t))

    def _cond_expr(self):
        """A parenthesized comparison ``( side op side )`` (sides may
        be arithmetic) -> ('cmp', a, op, b) — the IF condition form."""
        self.take("(")
        a = self._filter_side()
        op = self.take()
        if op not in _CMP_OPS:
            raise ValueError(
                f"unsupported comparison operator {op!r} in condition"
            )
        b = self._filter_side()
        self.take(")")
        return ("cmp", a, op, b)

    def _filter_side(self):
        """One side of a FILTER/IF comparison: a ?var, a constant, or
        a parenthesized arithmetic expression."""
        if self.peek() == "(":
            return self._bind_expr()
        return self._fterm(self.take())

    def _subselect(self) -> dict:
        """A { SELECT ... } subquery, the '{' already consumed ->
        a select-plan dict (same shape parse_sparql produces); the
        closing '}' is consumed here."""
        self.take("select")
        sub: dict = {"form": "select", "template": None,
                     "distinct": False}
        if (self.peek() or "").lower() == "distinct":
            self.take()
            sub["distinct"] = True
        sub["items"] = self.select_items()
        self.take("where")
        sub["branches"] = _branches(self)
        group_by, having, order_by, limit, offset = \
            self.modifiers(stop_at="}")
        self.take("}")
        sub.update(group_by=group_by, having=having, order_by=order_by,
                   limit=limit, offset=offset)
        _validate_select(sub)
        return sub

    def group(self):
        """Parse one { ... } group -> (triples, optionals, not_exists,
        minus, neq, values, filters, binds, subqueries). Nested
        OPTIONAL / FILTER only at the top level of the required group
        (SPARQL's common shape; deeper nesting raises)."""
        self.take("{")
        triples, optionals, negations, minus, neq, values = \
            [], [], [], [], [], []
        filters, binds, subqueries, str_filters = [], [], [], []
        exists, in_filters = [], []
        graph = None
        own_triples = False
        while True:
            t = self.peek()
            if t is None:
                raise ValueError("unclosed '{' in query")
            if t == "}":
                self.take()
                if graph is not None and own_triples:
                    raise ValueError(
                        "triples outside the GRAPH block in the same "
                        "group are not supported (the W3C default-graph"
                        "/named-graph mix); query them in a separate "
                        "UNION branch"
                    )
                return (triples, optionals, negations, minus, neq,
                        values, filters, binds, subqueries, str_filters,
                        graph, exists, in_filters)
            if t.lower() == "graph" and self.i + 1 < len(self.toks) \
                    and self.toks[self.i + 1] != "(":
                # GRAPH <term> { ... } — the term a ?variable (ranges
                # over named graphs) or a constant graph name
                if graph is not None:
                    raise ValueError(
                        "one GRAPH block per group (nest further "
                        "scoping in UNION branches)"
                    )
                self.take()
                gt = self.take()
                graph = gt if gt.startswith("?") else self._const(gt)
                inner = self.group()
                if inner[10] is not None:
                    raise ValueError("GRAPH blocks do not nest")
                if inner[8]:
                    raise ValueError(
                        "{ SELECT ... } subqueries inside a GRAPH "
                        "block are not supported"
                    )
                if not inner[0]:
                    raise ValueError("a GRAPH block binds no triples")
                triples.extend(inner[0])
                optionals.extend(inner[1])
                negations.extend(inner[2])
                minus.extend(inner[3])
                neq.extend(inner[4])
                values.extend(inner[5])
                filters.extend(inner[6])
                binds.extend(inner[7])
                str_filters.extend(inner[9])
                exists.extend(inner[11])
                in_filters.extend(inner[12])
                continue
            if t == "{":
                # a nested { SELECT ... } is a SPARQL 1.1 subquery;
                # any other bare nested group is out of scope
                nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) \
                    else ""
                if nxt.lower() != "select":
                    raise ValueError(
                        "bare nested groups are not supported (only "
                        "{ SELECT ... } subqueries)"
                    )
                self.take("{")
                subqueries.append(self._subselect())
                continue
            low = t.lower()
            if low in ("optional", "minus"):
                self.take()
                inner = self.group()
                if any(inner[1:]):
                    raise ValueError(
                        "nested OPTIONAL/MINUS/FILTER/VALUES inside a "
                        "group is not supported"
                    )
                (optionals if low == "optional" else minus).append(inner[0])
                continue
            if low == "values":
                self.take()
                values.append(self._values_block())
                continue
            if low == "filter":
                self.take()
                nxt = (self.peek() or "").lower()
                if nxt in ("not", "exists"):
                    # FILTER [NOT] EXISTS { ... } — anti-/semi-join
                    if nxt == "not":
                        self.take("not")
                    self.take("exists")
                    inner = self.group()
                    if any(inner[1:]):
                        raise ValueError(
                            "nested OPTIONAL/MINUS/FILTER/VALUES inside a "
                            "group is not supported"
                        )
                    (negations if nxt == "not" else exists).append(
                        inner[0]
                    )
                    continue
                self.take("(")
                # FILTER ( ?v [NOT] IN ( term term ... ) )
                la1 = (self.toks[self.i + 1].lower()
                       if self.i + 1 < len(self.toks) else "")
                la2 = (self.toks[self.i + 2].lower()
                       if self.i + 2 < len(self.toks) else "")
                if (self.peek() or "").startswith("?") and (
                    la1 == "in" or (la1 == "not" and la2 == "in")
                ):
                    v = self.take()[1:]
                    neg_in = la1 == "not"
                    if neg_in:
                        self.take("not")
                    self.take("in")
                    self.take("(")
                    vals = []
                    while self.peek() != ")":
                        if self.peek() is None:
                            raise ValueError("unclosed '(' in IN list")
                        vals.append(self._const(self.take()))
                    self.take(")")
                    self.take(")")
                    if not vals:
                        raise ValueError("IN needs at least one term")
                    in_filters.append((v, vals, neg_in))
                    continue
                if self.peek() == "(":
                    # arithmetic left side: ( ( a op b ) cmp side )
                    a_side = self._bind_expr()
                    op = self.take()
                    if op not in _CMP_OPS:
                        raise ValueError(
                            f"unsupported FILTER operator {op!r} (only "
                            f"=, !=, <, <=, >, >=)"
                        )
                    b_side = self._filter_side()
                    self.take(")")
                    filters.append((a_side, op, b_side))
                    continue
                a = self.take()
                neg = False
                if a == "!":
                    neg, a = True, self.take()
                if a.lower() in self._STR_FNS and self.peek() == "(":
                    # string-function filter: REGEX / STRSTARTS /
                    # STRENDS / CONTAINS ( ?v "literal" ), optional
                    # leading ! — canonical whitespace parens
                    fn = a.lower()
                    self.take("(")
                    v = self.take()
                    lit = self.take()
                    self.take(")")
                    self.take(")")
                    if not v.startswith("?") or lit.startswith("?"):
                        raise ValueError(
                            f"{fn.upper()} expects ( ?var "
                            f'"literal" ), got ({v} {lit})'
                        )
                    str_filters.append(
                        (fn, v[1:], self._const(lit), neg)
                    )
                    continue
                if neg:
                    raise ValueError(
                        "'!' negates only string-function filters "
                        "(REGEX/STRSTARTS/STRENDS/CONTAINS)"
                    )
                op = self.take()
                if op not in _CMP_OPS:
                    raise ValueError(
                        f"unsupported FILTER operator {op!r} (only "
                        f"=, !=, <, <=, >, >=)"
                    )
                b_side = self._filter_side()
                self.take(")")
                if op == "!=" and a.startswith("?") \
                        and b_side[0] == "var":
                    # var != var pushes into the matcher's earliest
                    # join (graph_query's neq path); everything else
                    # is a post-match row filter
                    neq.append((a, "?" + b_side[1]))
                else:
                    filters.append((self._fterm(a), op, b_side))
                continue
            if low == "bind":
                self.take()
                self.take("(")
                expr = self._bind_expr()
                self.take("as")
                v = self.take()
                self.take(")")
                if not v.startswith("?"):
                    raise ValueError(f"BIND expects AS ?var, got {v!r}")
                binds.append((v[1:], expr))
                continue
            s, p, o = self.term(), self.term(), self.term()
            own_triples = True
            triples.append((s, p, o))
            # predicate-object lists (canonical whitespace-separated
            # layout): `;` repeats the subject, `,` repeats subject AND
            # predicate — pure syntax sugar expanding to plain triples
            while self.peek() in (";", ","):
                sep = self.take()
                if sep == ";":
                    p = self.term()
                o = self.term()
                triples.append((s, p, o))
            if self.peek() == ".":
                self.take()
        # unreachable

    def where_body(self):
        """Parse the WHERE group -> list of branch bodies. A body whose
        first token is '{' is a union chain ``{g} UNION {g} ...``;
        otherwise it is a single plain group body."""
        self.take("{")
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else ""
        if self.peek() == "{" and nxt.lower() != "select":
            branches = [self.group()]
            while (self.peek() or "").lower() == "union":
                self.take()
                branches.append(self.group())
            self.take("}")
            return branches
        # plain group: rewind the '{' and parse as one body
        self.i -= 1
        return [self.group()]

    def select_items(self):
        """SELECT item list -> (vars_or_None_for_star, items) where
        items preserve order as ('var', name) / ('agg', fn, distinct,
        var_or_None_for_star, alias)."""
        if self.peek() == "*":
            self.take()
            return None
        items = []
        while (self.peek() or "").lower() != "where":
            t = self.peek()
            if t is None:
                raise ValueError("SELECT list ran off the end of the query")
            if t.startswith("?"):
                self.take()
                items.append(("var", t[1:]))
                continue
            if t.startswith("("):
                # collect tokens until parens balance: aggregates are
                # written flush (no quoted literals inside), e.g.
                # (COUNT(DISTINCT ?s) AS ?n)
                parts, bal = [], 0
                while True:
                    tok = self.take()
                    parts.append(tok)
                    bal += tok.count("(") - tok.count(")")
                    if bal <= 0:
                        break
                expr = " ".join(parts)
                m = _AGG_RE.match(expr)
                if not m:
                    raise ValueError(
                        f"unsupported SELECT expression {expr!r} (only "
                        f"(FN([DISTINCT] ?v|*) AS ?alias) is supported)"
                    )
                fn, dist, v, sep, alias = m.groups()
                fn = fn.upper()
                if v == "*" and (fn != "COUNT" or dist):
                    raise ValueError(
                        f"unsupported SELECT expression {expr!r}: only "
                        f"plain COUNT(*) may aggregate *"
                    )
                if sep is not None and fn != "GROUP_CONCAT":
                    raise ValueError(
                        f"SEPARATOR is only valid in GROUP_CONCAT, "
                        f"got {expr!r}"
                    )
                item = (
                    "agg",
                    fn,
                    bool(dist),
                    None if v == "*" else v[1:],
                    alias[1:],
                )
                if fn == "GROUP_CONCAT":
                    # SPARQL's default separator is a single space;
                    # runs of whitespace inside a separator collapse to
                    # one space under the flush-token rejoin
                    item = item + (" " if sep is None else sep,)
                items.append(item)
                continue
            raise ValueError(f"SELECT expects ?vars, aggregates or *, got {t!r}")
        if not items:
            raise ValueError("SELECT needs at least one item or *")
        return items

    def modifiers(self, stop_at: str | None = None):
        """Post-WHERE solution modifiers -> (group_by, having,
        order_by, limit, offset). ``stop_at`` (the subquery case:
        ``'}'``) ends the modifier run without consuming the token."""
        group_by, having, order_by, limit, offset = [], [], [], None, None
        while self.peek() is not None and self.peek() != stop_at:
            kw = self.take().lower()
            if kw == "having":
                while self.peek() == "(":
                    self.take("(")
                    v = self.take()
                    op = self.take()
                    num = self.take()
                    self.take(")")
                    if not v.startswith("?"):
                        raise ValueError(
                            f"HAVING expects ( ?var op number ), got {v!r}"
                        )
                    if op not in (">", ">=", "<", "<=", "=", "!="):
                        raise ValueError(f"unsupported HAVING operator {op!r}")
                    try:
                        val = int(num)
                    except ValueError:
                        try:
                            val = float(num)
                        except ValueError:
                            raise ValueError(
                                f"HAVING expects a numeric literal, got {num!r}"
                            ) from None
                    having.append((v[1:], op, val))
                if not having:
                    raise ValueError("HAVING needs at least one ( ... )")
                continue
            if kw == "group":
                self.take("by")
                while (p := self.peek()) is not None and p.startswith("?"):
                    group_by.append(self.take()[1:])
                if not group_by:
                    raise ValueError("GROUP BY needs at least one ?var")
            elif kw == "order":
                self.take("by")
                while (p := self.peek()) is not None and (
                    p.startswith("?")
                    or p.lower().startswith(("asc", "desc"))
                ):
                    tok = self.take()
                    parts = [tok]
                    bal = tok.count("(") - tok.count(")")
                    while bal > 0 or (
                        len(parts) == 1 and parts[0].lower() in ("asc", "desc")
                    ):
                        tok = self.take()
                        parts.append(tok)
                        bal += tok.count("(") - tok.count(")")
                    m = _ORDER_KEY_RE.match(" ".join(parts))
                    if not m:
                        raise ValueError(
                            f"bad ORDER BY key {' '.join(parts)!r}"
                        )
                    direction, v = m.groups()
                    order_by.append(
                        (v[1:], (direction or "ASC").upper() == "ASC")
                    )
                if not order_by:
                    raise ValueError("ORDER BY needs at least one key")
            elif kw == "limit":
                t = self.take()
                if not t.isdigit():
                    raise ValueError(f"LIMIT expects an integer, got {t!r}")
                limit = int(t)
            elif kw == "offset":
                t = self.take()
                if not t.isdigit():
                    raise ValueError(f"OFFSET expects an integer, got {t!r}")
                offset = int(t)
            else:
                raise ValueError(f"trailing tokens after WHERE group: "
                                 f"{self.toks[self.i - 1:]}")
        return group_by, having, order_by, limit, offset

    def template(self):
        self.take("{")
        out = []
        while self.peek() != "}":
            if self.peek() is None:
                raise ValueError("unclosed '{' in CONSTRUCT template")
            s, p, o = self.term(), self.term(), self.term()
            out.append((s, p, o))
            while self.peek() in (";", ","):
                sep = self.take()
                if sep == ";":
                    p = self.term()
                o = self.term()
                out.append((s, p, o))
            if self.peek() == ".":
                self.take()
        self.take("}")
        return out


def parse_sparql(query: str, *, type_pred: str = "type") -> dict:
    """Parse a SPARQL string -> a plan dict:
    ``{'form': 'select'|'construct', 'items': [...] | None,
    'distinct': bool, 'template': [...] | None, 'branches':
    [{'pattern', 'optional', 'not_exists', 'neq', 'values'}, ...],
    'group_by': [...], 'order_by': [(var, asc)], 'limit': int|None}``.
    Raises ValueError with the offending token on anything outside
    the supported subset."""
    p = _P(_tokenize(query), type_pred)
    head = p.take().lower()
    out: dict = {"items": None, "distinct": True, "template": None}
    if head == "select":
        out["form"] = "select"
        out["distinct"] = False  # an explicit DISTINCT keyword only
        if (p.peek() or "").lower() == "distinct":
            p.take()
            out["distinct"] = True
        out["items"] = p.select_items()
    elif head == "construct":
        out["form"] = "construct"
        out["template"] = p.template()
    elif head == "ask":
        out["form"] = "ask"
    elif head == "describe":
        # DESCRIBE <node> ... / DESCRIBE ?v ... WHERE { ... } -> every
        # triple whose subject OR object is a described resource (the
        # symmetric concise-bounded-description pin; SPARQL leaves the
        # description form implementation-defined)
        out["form"] = "describe"
        terms = []
        while p.peek() is not None and p.peek().lower() != "where":
            t = p.take()
            terms.append(
                ("var", t[1:]) if t.startswith("?")
                else ("const", p._const(t))
            )
        if not terms:
            raise ValueError("DESCRIBE needs at least one term")
        out["describe"] = terms
        if p.peek() is not None:
            p.take("where")
            out["branches"] = _branches(p)
        else:
            out["branches"] = []
        if any(t[0] == "var" for t in terms) and not out["branches"]:
            raise ValueError("DESCRIBE ?var requires a WHERE group")
        if p.peek() is not None:
            raise ValueError(
                f"trailing tokens after DESCRIBE: {p.toks[p.i:]}"
            )
        out.update(group_by=[], having=[], order_by=[], limit=None,
                   offset=None)
        return out
    else:
        raise ValueError(
            f"query must start with SELECT, CONSTRUCT, ASK or DESCRIBE, "
            f"got {head!r}"
        )
    if head == "ask":
        if (p.peek() or "").lower() == "where":
            p.take()  # ASK { ... } and ASK WHERE { ... } are both legal
    else:
        p.take("where")
    out["branches"] = _branches(p)
    if head in ("construct", "ask"):
        if p.peek() is not None:
            raise ValueError(
                f"trailing tokens after WHERE group: {p.toks[p.i:]}"
            )
        out.update(group_by=[], having=[], order_by=[], limit=None,
                   offset=None)
    else:
        group_by, having, order_by, limit, offset = p.modifiers()
        out.update(group_by=group_by, having=having, order_by=order_by,
                   limit=limit, offset=offset)
    _validate_select(out)
    return out


def _branches(p: _P) -> list[dict]:
    """Parse the WHERE body through ``p`` -> branch dicts (one per
    UNION arm)."""
    branches = []
    for body in p.where_body():
        (pattern, optionals, negations, minus, neq, values, filters,
         binds, subqueries, str_filters, graph, exists,
         in_filters) = body
        if not pattern and not subqueries:
            raise ValueError("a WHERE group binds no triples")
        if not pattern and (optionals or negations or minus or exists):
            raise ValueError(
                "OPTIONAL / MINUS / FILTER [NOT] EXISTS need at least "
                "one required triple in the group"
            )
        branches.append({
            "pattern": pattern, "optional": optionals,
            "not_exists": negations, "minus": minus, "neq": neq,
            "values": values, "filters": filters, "binds": binds,
            "subqueries": subqueries, "str_filters": str_filters,
            "graph": graph, "exists": exists, "in_filters": in_filters,
        })
    return branches


def _validate_select(out: dict) -> None:
    """The aggregate / GROUP BY / HAVING consistency rules, shared by
    the top-level SELECT and subqueries."""
    has_agg = any(it[0] == "agg" for it in (out["items"] or ()))
    if out["group_by"] and not has_agg:
        raise ValueError("GROUP BY requires at least one aggregate in SELECT")
    if out.get("having") and not has_agg:
        raise ValueError("HAVING requires an aggregating SELECT")
    if has_agg:
        bad = [it[1] for it in out["items"] if it[0] == "var"
               and it[1] not in out["group_by"]]
        if bad:
            raise ValueError(
                f"non-aggregated SELECT var(s) {bad} must appear in GROUP BY"
            )


_AGG_FNS = {
    "COUNT": lambda c: F.count(c),
    "SUM": lambda c: F.sum(c.cast("long")),
    "MIN": lambda c: F.min(c),
    "MAX": lambda c: F.max(c),
    "AVG": lambda c: F.avg(c.cast("double")),
}


def _agg_expr(fn: str, dist: bool, var: str | None, alias: str,
              sep: str = " "):
    if var is None:  # COUNT(*) — the only *-form aggregate
        if fn != "COUNT" or dist:
            raise ValueError(f"only plain COUNT(*) is supported, not "
                             f"{fn}({'DISTINCT ' if dist else ''}*)")
        return F.count(F.lit(1)).alias(alias)
    col = F.col(var)
    if fn == "GROUP_CONCAT":
        # deterministic at any partitioning: collect, (distinct,)
        # SORT, join — SPARQL leaves concatenation order undefined,
        # this engine pins it to ascending value order so results are
        # bit-identical cross-engine (DuckDB mirror: string_agg(v, sep
        # ORDER BY v))
        lst = F.collect_list(col)
        if dist:
            lst = F.array_distinct(lst)
        return F.array_join(F.sort_array(lst), sep).alias(alias)
    if fn == "SAMPLE":
        # SPARQL allows ANY value from the group; pinned to MIN for
        # determinism (valid per spec, reproducible at any parallelism)
        return F.min(col).alias(alias)
    if dist:
        if fn != "COUNT":
            raise ValueError(f"{fn}(DISTINCT ?v) is not supported")
        return F.countDistinct(col).alias(alias)
    return _AGG_FNS[fn](col).alias(alias)


def _apply_values(matched: DataFrame, values_blocks) -> DataFrame:
    """Filter the branch solutions to those compatible with each
    VALUES literal table (semi-join on its variables, which must all
    be bound by the pattern — equivalent to SPARQL's inline-data join
    for set semantics, and never multiplies solutions on duplicate
    VALUES rows). The literal table is tiny by construction —
    broadcast-hinted so the join never shuffles the solution side.
    NULL (UNDEF) cells act as wildcards per SPARQL's
    compatible-binding rule."""
    spark = matched.sparkSession
    for vs, rows in values_blocks:
        missing = [v for v in vs if v not in matched.columns]
        if missing:
            raise ValueError(
                f"VALUES variable(s) {missing} not bound by the pattern "
                f"(bound: {matched.columns})"
            )
        lit = spark.createDataFrame(
            [tuple(r) for r in rows], schema=", ".join(f"{v} string" for v in vs)
        )
        if any(cell is None for row in rows for cell in row):
            # UNDEF wildcard: compatible iff every non-NULL cell matches
            cond = None
            right = F.broadcast(lit.select(
                *[F.col(v).alias(f"__val_{v}") for v in vs]
            ))
            for v in vs:
                c = F.col(f"__val_{v}").isNull() | (
                    F.col(f"__val_{v}") == F.col(v)
                )
                cond = c if cond is None else (cond & c)
            matched = matched.join(right, cond, "semi")
        else:
            matched = matched.join(F.broadcast(lit), on=list(vs), how="semi")
    return matched


def _expr_vars(expr) -> set[str]:
    """Variables a BIND / FILTER expression reads."""
    kind = expr[0]
    if kind == "var":
        return {expr[1]}
    if kind == "lit":
        return set()
    if kind == "cmp":
        return _expr_vars(expr[1]) | _expr_vars(expr[3])
    if kind == "if":
        return (_expr_vars(expr[1]) | _expr_vars(expr[2])
                | _expr_vars(expr[3]))
    return set().union(set(), *[_expr_vars(a) for a in expr[2]])


def _num_col(expr):
    """An expression in NUMERIC context -> a double Column. Vars and
    non-numeric strings TRY_CAST (a type error is a NULL row-drop, the
    SPARQL error semantics; the DuckDB mirror is TRY_CAST AS DOUBLE)."""
    return _bind_col(expr).try_cast("double")


def _bind_col(expr):
    """A BIND expression AST -> a Column."""
    kind = expr[0]
    if kind == "var":
        return F.col(expr[1])
    if kind == "lit":
        return F.lit(expr[1])
    if kind == "arith":
        # numeric ops are DOUBLE-typed end to end (the engine pin; the
        # oracle mirrors with TRY_CAST(... AS DOUBLE) arithmetic)
        op = expr[1]
        a, b = _num_col(expr[2][0]), _num_col(expr[2][1])
        if op == "+":
            return a + b
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        return a / b
    if kind == "if":
        _, cond, then, other = expr
        return F.when(
            _filter_cond(cond[1], cond[2], cond[3]), _bind_col(then)
        ).otherwise(_bind_col(other))
    fn, args = expr[1], [_bind_col(a) for a in expr[2]]
    if fn == "concat":
        return F.concat(*args)
    if fn == "strlen":
        return F.length(args[0]).cast("long")
    if fn == "lcase":
        return F.lower(args[0])
    if fn == "ucase":
        return F.upper(args[0])
    if fn == "str":
        return args[0].cast("string")
    if fn == "coalesce":
        return F.coalesce(*args)
    if fn in ("strbefore", "strafter"):
        # separator pinned to a literal at parse time; absent -> "" (the
        # SPARQL result); an unbound input is an error, so it stays unbound
        s, sub = args[0], expr[2][1][1]
        pos = F.instr(s, sub)
        if fn == "strbefore":
            found = s.substr(F.lit(1), pos - 1)
        else:
            found = s.substr(pos + len(sub), F.length(s))
        return F.when(s.isNull(), None).when(pos > 0, found).otherwise(F.lit(""))
    if fn == "replace":
        # SPARQL REPLACE is regex, global — Spark regexp_replace
        # matches; the DuckDB mirror needs the 'g' flag
        return F.regexp_replace(args[0], expr[2][1][1], expr[2][2][1])
    raise AssertionError(f"unknown BIND function {fn!r}")


_CMP_OPS = {"=": "__eq__", "!=": "__ne__", "<": "__lt__",
            "<=": "__le__", ">": "__gt__", ">=": "__ge__"}


def _numeric(text: str) -> float | None:
    try:
        return float(text)
    except ValueError:
        return None


def _filter_cond(a, op: str, b):
    """A FILTER comparison -> a boolean Column. Node values are
    strings; the comparison is NUMERIC iff either side is a numeric
    literal OR an arithmetic expression (the var side casts to double,
    so a non-numeric value compares NULL and the row drops — exactly
    DuckDB's ``TRY_CAST(v AS DOUBLE) op n`` for the oracle mirror).
    All-string comparisons (var op var, var op "text") are
    lexicographic."""
    numeric = any(
        s[0] == "arith"
        or (s[0] == "lit" and _numeric(s[1]) is not None)
        for s in (a, b)
    )

    def side(s):
        if s[0] == "arith":
            return _bind_col(s)  # already double-typed
        if s[0] == "var":
            c = F.col(s[1])
            # try_cast, not cast: ANSI mode would THROW on a
            # non-numeric node value; SPARQL semantics is a type error
            # -> the row just doesn't qualify (NULL comparison)
            return c.try_cast("double") if numeric else c
        v = s[1]
        n = _numeric(v) if numeric else None
        return F.lit(n if n is not None else v)

    return getattr(side(a), _CMP_OPS[op])(side(b))


def _filter_exists(
    m: DataFrame, inner: DataFrame, required: set[str]
) -> DataFrame:
    """Positive FILTER EXISTS: keep the solutions of ``m`` for which
    the inner pattern, with the row's BOUND variables substituted,
    has a match. A row whose shared variables are all bound is a SEMI
    join on them (the dual of the NOT EXISTS anti join); an unbound
    (NULL) shared variable stays free in the inner pattern, so such a
    row semi-joins on its bound subset only, and with none bound meets
    the uncorrelated ASK gate: a <=1-row broadcast probe, never a
    data-sized product. ``required`` names the variables no row leaves
    unbound (the group's required triples); rows split by which of the
    other shared variables are bound — one branch when there are
    none."""
    shared = [c for c in inner.columns if c in m.columns]
    nullable = [c for c in shared if c not in required]
    out = None
    for mask in range(1 << len(nullable)):
        unbound = {c for i, c in enumerate(nullable) if mask >> i & 1}
        part = m
        for c in nullable:
            part = part.filter(
                F.col(c).isNull() if c in unbound else F.col(c).isNotNull()
            )
        on = [c for c in shared if c not in unbound]
        if on:
            part = part.join(inner.select(*on).distinct(), on=on, how="semi")
        else:
            probe = inner.limit(1).select(F.lit(1).alias("__exists"))
            part = part.crossJoin(F.broadcast(probe)).drop("__exists")
        # by name: a USING join leads with its key columns
        out = part if out is None else out.unionByName(part)
    return out


def _branch_frame(
    edges: DataFrame,
    b: dict,
    distinct: bool,
    match_kwargs: dict,
    bag: bool = False,
) -> DataFrame:
    """One WHERE branch -> its solution frame: pattern match (if any
    triples), subquery joins on the shared variables, BINDs, FILTER
    comparisons, VALUES semi-joins — in SPARQL's evaluation order."""
    m = None
    if b["pattern"]:
        if b.get("graph") is not None:
            # GRAPH <term> { ... }: the branch compiles over the quad
            # table — constant graph slices then delegates the full
            # feature set; ?variable graph scopes every join to the
            # active graph and binds it (match_quads semantics/limits)
            m = match_quads(
                edges,
                b["pattern"],
                b["graph"],
                optional=b["optional"],
                not_exists=b["not_exists"],
                minus=b["minus"],
                neq=b["neq"],
                distinct=distinct,
                **match_kwargs,
            )
        else:
            m = match_pattern(
                edges,
                b["pattern"],
                optional=b["optional"],
                not_exists=b["not_exists"],
                minus=b["minus"],
                neq=b["neq"],
                distinct=distinct,
                **match_kwargs,
            )
    for sub in b.get("subqueries", ()):
        sdf = _select_frame(edges, sub, bag, match_kwargs)
        if m is None:
            m = sdf
            continue
        shared = [c for c in sdf.columns if c in m.columns]
        if not shared:
            raise ValueError(
                f"subquery projects {sdf.columns} — no variable shared "
                f"with the enclosing group {m.columns} (a cross product)"
            )
        m = m.join(sdf, on=shared, how="inner")
    for v, expr in b.get("binds", ()):
        if v in m.columns:
            raise ValueError(f"BIND would rebind already-bound ?{v}")
        missing = sorted(_expr_vars(expr) - set(m.columns))
        if missing:
            raise ValueError(
                f"BIND expression reads unbound variable(s) {missing} "
                f"(bound: {m.columns})"
            )
        m = m.withColumn(v, _bind_col(expr))
    for ex in b.get("exists", ()):
        # positive FILTER EXISTS, evaluated AFTER BIND (SPARQL's
        # end-of-group filter scope), so an EXISTS correlated on a
        # BIND-introduced variable is a real per-row semi join, not a
        # degenerate gate
        if b.get("graph") is not None:
            raise ValueError(
                "FILTER EXISTS inside a GRAPH block is not supported"
            )
        inner = match_pattern(edges, ex, distinct=True, **match_kwargs)
        required = set().union(*map(_vars_of, b["pattern"]))
        m = _filter_exists(m, inner, required)
    for a, op, bb in b.get("filters", ()):
        for s in (a, bb):
            missing = sorted(_expr_vars(s) - set(m.columns))
            if missing:
                raise ValueError(
                    f"FILTER reads unbound variable(s) {missing} "
                    f"(bound: {m.columns})"
                )
        m = m.filter(_filter_cond(a, op, bb))
    for fn, v, lit, neg in b.get("str_filters", ()):
        if v not in m.columns:
            raise ValueError(
                f"FILTER {fn.upper()} reads unbound variable ?{v} "
                f"(bound: {m.columns})"
            )
        c = F.col(v)
        if fn == "regex":
            # Java regex semantics (rlike) — the engine pin; SPARQL
            # specifies XPath regex, identical on the common subset
            cond = c.rlike(lit)
        elif fn == "strstarts":
            cond = c.startswith(lit)
        elif fn == "strends":
            cond = c.endswith(lit)
        else:  # contains
            cond = c.contains(lit)
        m = m.filter(~cond if neg else cond)
    for v, vals, neg_in in b.get("in_filters", ()):
        # IN lists are literal-sized: a plain isin membership column
        # expression, pushable like any other predicate
        if v not in m.columns:
            raise ValueError(
                f"FILTER IN reads unbound variable ?{v} "
                f"(bound: {m.columns})"
            )
        cond = F.col(v).isin(vals)
        m = m.filter(~cond if neg_in else cond)
    if b["values"]:
        m = _apply_values(m, b["values"])
    return m


def sparql(
    edges: DataFrame,
    query: str,
    *,
    type_pred: str = "type",
    bag: bool = False,
    **match_kwargs,
) -> DataFrame:
    """Run a SPARQL SELECT/CONSTRUCT string over a triple table ->
    a DataFrame (one column per selected variable / aggregate alias,
    or (subj, pred, obj) for CONSTRUCT). ``bag=True`` selects bag
    semantics (``distinct=False`` in the matcher) for plain SELECT;
    DISTINCT in the query text always forces set semantics. Remaining
    keyword arguments (``collect_stats``, ``path_max_rounds``, column
    names, ...) pass through to :func:`graph_query.match_pattern`."""
    plan = parse_sparql(query, type_pred=type_pred)
    if plan["form"] == "construct":
        b = plan["branches"]
        if len(b) > 1:
            raise ValueError("CONSTRUCT over a UNION body is not supported")
        if b[0]["values"] or b[0]["filters"] or b[0]["binds"] \
                or b[0]["subqueries"] or b[0]["str_filters"] \
                or b[0]["exists"] or b[0]["in_filters"]:
            raise ValueError(
                "CONSTRUCT with VALUES / FILTER comparisons / BIND / "
                "subqueries is not supported"
            )
        return construct(
            edges,
            b[0]["pattern"],
            plan["template"],
            optional=b[0]["optional"],
            not_exists=b[0]["not_exists"],
            minus=b[0]["minus"],
            neq=b[0]["neq"],
            **match_kwargs,
        )
    if plan["form"] == "describe":
        # the described resource set = constant terms + the WHERE
        # bindings of each described variable; the description = every
        # edge-table triple whose subject OR object lands in the set.
        # Constants filter-push to the scan; variable sets apply as two
        # equi-SEMI-joins + union + dedup — never an OR-condition join,
        # which would degenerate to a nested-loop product
        sc = match_kwargs.get("subj_col", "subj")
        pc = match_kwargs.get("pred_col", "pred")
        oc = match_kwargs.get("obj_col", "obj")
        triples3 = edges.select(sc, pc, oc)
        consts = [t[1] for t in plan["describe"] if t[0] == "const"]
        var_terms = [t[1] for t in plan["describe"] if t[0] == "var"]
        parts = []
        if consts:
            parts.append(triples3.filter(F.col(sc).isin(consts)))
            parts.append(triples3.filter(F.col(oc).isin(consts)))
        if var_terms:
            node_frames = []
            for b in plan["branches"]:
                m = _branch_frame(edges, b, True, match_kwargs)
                for v in var_terms:
                    if v not in m.columns:
                        raise ValueError(
                            f"DESCRIBE variable ?{v} not bound by the "
                            f"WHERE group (bound: {m.columns})"
                        )
                    node_frames.append(m.select(F.col(v).alias("__node")))
            nodes = node_frames[0]
            for nf in node_frames[1:]:
                nodes = nodes.unionByName(nf)
            nodes = nodes.distinct()
            parts.append(
                triples3.join(nodes, F.col(sc) == F.col("__node"), "semi")
            )
            parts.append(
                triples3.join(nodes, F.col(oc) == F.col("__node"), "semi")
            )
        out = parts[0]
        for m2 in parts[1:]:
            out = out.unionByName(m2)
        # a triple touching the set at both ends arrives twice
        return out.distinct()
    if plan["form"] == "ask":
        # existence probe: one row, `ask boolean`, true iff ANY branch
        # is satisfiable. limit(1) stops each probe at the first
        # satisfying binding. A fully-constant branch (the canonical
        # ASK shape, which match_pattern rejects as binding no
        # variables) compiles to per-triple pushed-filter probes whose
        # conjunction is a cross join of ≤1-row frames.
        parts = []
        for b in plan["branches"]:
            if (not b["optional"] and not b["not_exists"]
                    and not b["minus"] and not b["filters"]
                    and not b["binds"] and not b["subqueries"]
                    and not b["str_filters"]
                    and b["pattern"] and all(
                        not t.startswith("?")
                        for tr in b["pattern"] for t in tr)):
                probe = None
                for s, pr, o in b["pattern"]:
                    if any(ch in pr for ch in "/|^+*?()"):
                        raise ValueError(
                            f"constant property-path triple {pr!r} in an "
                            f"all-constant ASK is not supported"
                        )
                    one = (
                        edges.filter(
                            (F.col(match_kwargs.get("subj_col", "subj")) == s)
                            & (F.col(match_kwargs.get("pred_col", "pred")) == pr)
                            & (F.col(match_kwargs.get("obj_col", "obj")) == o)
                        )
                        .select(F.lit(1).alias("one"))
                        .limit(1)
                    )
                    probe = one if probe is None else probe.crossJoin(
                        one.select(F.col("one").alias(f"_c{len(probe.columns)}"))
                    )
                parts.append(probe.select(F.lit(1).alias("one")).limit(1))
                continue
            m = _branch_frame(edges, b, False, match_kwargs)
            parts.append(m.select(F.lit(1).alias("one")).limit(1))
        out = parts[0]
        for m in parts[1:]:
            out = out.unionByName(m)
        return out.agg((F.count("one") > 0).alias("ask"))
    return _select_frame(edges, plan, bag, match_kwargs)


def _select_frame(
    edges: DataFrame,
    plan: dict,
    bag: bool,
    match_kwargs: dict,
) -> DataFrame:
    """A parsed SELECT plan (top-level or subquery) -> its result
    frame."""
    items = plan["items"]
    has_agg = any(it[0] == "agg" for it in (items or ()))
    # an explicit DISTINCT keyword in the text always wins over
    # bag=True; aggregation always consumes the DISTINCT solution
    # multiset (see module doc)
    set_sem = plan["distinct"] or not bag
    parts = [
        _branch_frame(edges, b, set_sem or has_agg, match_kwargs, bag)
        for b in plan["branches"]
    ]
    out = parts[0]
    for m in parts[1:]:
        out = out.unionByName(m, allowMissingColumns=True)
    if has_agg:
        aggs = [_agg_expr(it[1], it[2], it[3], it[4], *it[5:6])
                for it in items if it[0] == "agg"]
        grouped = (out.groupBy(*plan["group_by"]) if plan["group_by"]
                   else out.groupBy())
        out = grouped.agg(*aggs)
        order = [it[1] if it[0] == "var" else it[4] for it in items]
        if out.columns != order:
            out = out.select(*order)
        _OPS = {">": "__gt__", ">=": "__ge__", "<": "__lt__",
                "<=": "__le__", "=": "__eq__", "!=": "__ne__"}
        for v, op, val in plan.get("having", ()):
            if v not in out.columns:
                raise ValueError(
                    f"HAVING variable ?{v} not in the result "
                    f"(columns: {out.columns})"
                )
            out = out.filter(getattr(F.col(v), _OPS[op])(F.lit(val)))
    elif items is not None:
        names = [it[1] for it in items]
        missing = [v for v in names if v not in out.columns]
        if missing:
            raise ValueError(
                f"SELECT variable(s) {missing} not bound by the pattern "
                f"(bound: {out.columns})"
            )
        if out.columns != names:
            out = out.select(*names)
        if set_sem:
            out = out.distinct()  # projection can re-introduce duplicates
    elif set_sem and len(parts) > 1:
        out = out.distinct()  # union of set-semantic branches
    for v, _ in plan["order_by"]:
        if v not in out.columns:
            raise ValueError(f"ORDER BY variable ?{v} not in the result "
                             f"(columns: {out.columns})")
    if plan["order_by"]:
        out = out.orderBy(*[
            F.col(v).asc() if asc else F.col(v).desc()
            for v, asc in plan["order_by"]
        ])
    if plan.get("offset"):
        # SPARQL applies OFFSET before LIMIT regardless of the order
        # the modifiers were written in; deterministic only under a
        # total ORDER BY, same caveat as LIMIT
        out = out.offset(plan["offset"])
    if plan["limit"] is not None:
        out = out.limit(plan["limit"])
    return out


# --- SPARQL 1.1 Update (the graph-store write surface) ----------------------


def parse_update(query: str, *, type_pred: str = "type") -> dict:
    """Parse a SPARQL UPDATE string -> a plan dict ``{'form':
    'insert_data'|'delete_data'|'modify', 'delete': [triples]|None,
    'insert': [triples]|None, 'branches': [...]|None}``.

    Supported forms (canonical layout, same token rules as the query
    parser):

    * ``INSERT DATA { triples }`` / ``DELETE DATA { triples }`` —
      templates must be all-constant (per spec)
    * ``INSERT { tmpl } WHERE { group }``
    * ``DELETE { tmpl } WHERE { group }``
    * ``DELETE { tmpl } INSERT { tmpl } WHERE { group }``
    * ``DELETE WHERE { pattern }`` — the spec shorthand: the pattern
      doubles as the delete template (plain triples only)
    """
    p = _P(_tokenize(query), type_pred)
    first = (p.peek() or "").lower()
    out: dict = {"form": None, "delete": None, "insert": None,
                 "branches": None}
    if first == "insert":
        p.take()
        if (p.peek() or "").lower() == "data":
            p.take()
            out.update(form="insert_data", insert=p.template())
        else:
            out.update(form="modify", insert=p.template())
            p.take("where")
            out["branches"] = _branches(p)
    elif first == "delete":
        p.take()
        nxt = (p.peek() or "").lower()
        if nxt == "data":
            p.take()
            out.update(form="delete_data", delete=p.template())
        elif nxt == "where":
            p.take("where")
            out["form"] = "modify"
            out["branches"] = _branches(p)
            b = out["branches"]
            if len(b) > 1 or any(
                b[0][k]
                for k in ("optional", "not_exists", "minus", "neq",
                          "values", "filters", "binds", "subqueries",
                          "str_filters", "exists", "in_filters")
            ) or b[0]["graph"] is not None:
                raise ValueError(
                    "DELETE WHERE takes one plain triple pattern "
                    "(the spec's QuadPattern shorthand — no OPTIONAL/"
                    "FILTER/UNION); use DELETE { } WHERE { } for more"
                )
            out["delete"] = list(b[0]["pattern"])
        else:
            out.update(form="modify", delete=p.template())
            if (p.peek() or "").lower() == "insert":
                p.take()
                out["insert"] = p.template()
            p.take("where")
            out["branches"] = _branches(p)
    else:
        raise ValueError(
            f"expected INSERT or DELETE to start an update, got "
            f"{p.peek()!r}"
        )
    if p.peek() is not None:
        raise ValueError(f"trailing tokens after update: {p.toks[p.i:]}")
    for key in ("insert", "delete"):
        tmpl = out[key]
        if tmpl is not None and not tmpl:
            raise ValueError(f"{key.upper()} template binds no triples")
        if out["form"] in ("insert_data", "delete_data") and tmpl:
            bad = [t for t in tmpl if any(x.startswith("?") for x in t)]
            if bad:
                raise ValueError(
                    f"{out['form'].upper().replace('_', ' ')} templates "
                    f"must be constant triples, got variables in {bad}"
                )
    return out


def sparql_update(
    edges: DataFrame,
    query: str,
    *,
    type_pred: str = "type",
    **match_kwargs,
) -> DataFrame:
    """Apply a SPARQL UPDATE string to a triple table -> the UPDATED
    triple table (functional: the input DataFrame is untouched; write
    the result wherever the store lives). Result is the SET of
    triples (RDF graphs are sets — duplicates collapse, matching the
    query engine's set semantics).

    Compilation: ``INSERT DATA`` is a broadcast-literal union;
    ``DELETE DATA`` a broadcast-literal anti join; the ``WHERE`` forms
    bind solutions through the full query machinery (OPTIONAL /
    FILTER [NOT] EXISTS / BIND / arithmetic — everything
    :func:`sparql` supports in a group), instantiate the templates
    per binding (solutions leaving a template variable NULL — e.g.
    from OPTIONAL — instantiate nothing, per the spec), then one
    anti join removes the delete set and one union adds the insert
    set. Scale shape: the only shuffles are the WHERE match itself,
    the anti join on the triple key, and the final distinct."""
    plan = parse_update(query, type_pred=type_pred)
    sc = match_kwargs.get("subj_col", "subj")
    pc = match_kwargs.get("pred_col", "pred")
    oc = match_kwargs.get("obj_col", "obj")
    base = edges.select(sc, pc, oc)
    spark = edges.sparkSession

    def lit_triples(tmpl):
        return spark.createDataFrame(
            [tuple(t) for t in tmpl],
            f"{sc} string, {pc} string, {oc} string",
        )

    if plan["form"] == "insert_data":
        return base.unionByName(lit_triples(plan["insert"])).distinct()
    if plan["form"] == "delete_data":
        return base.join(
            F.broadcast(lit_triples(plan["delete"])),
            [sc, pc, oc],
            "left_anti",
        ).distinct()

    branches = plan["branches"]
    if len(branches) > 1:
        raise ValueError("UPDATE WHERE does not take a UNION body")
    m = _branch_frame(edges, branches[0], True, match_kwargs)

    def instantiate(tmpl):
        parts = []
        for s, p, o in tmpl:
            cols = []
            for term, alias in ((s, sc), (p, pc), (o, oc)):
                if term.startswith("?"):
                    v = term[1:]
                    if v not in m.columns:
                        raise ValueError(
                            f"template variable ?{v} not bound by the "
                            f"WHERE group (bound: {m.columns})"
                        )
                    cols.append(F.col(v).alias(alias))
                else:
                    cols.append(F.lit(term).alias(alias))
            parts.append(m.select(*cols))
        out = parts[0]
        for x in parts[1:]:
            out = out.unionByName(x)
        # a solution with an unbound template variable (OPTIONAL NULL)
        # instantiates no triple for that row — the spec rule
        return out.where(
            F.col(sc).isNotNull() & F.col(pc).isNotNull()
            & F.col(oc).isNotNull()
        ).distinct()

    out = base
    if plan["delete"]:
        out = out.join(instantiate(plan["delete"]), [sc, pc, oc],
                       "left_anti")
    if plan["insert"]:
        out = out.unionByName(instantiate(plan["insert"]))
    return out.distinct()
