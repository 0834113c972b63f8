"""Basic-graph-pattern (motif) matching over KG triple tables.

The reference stops at emitting (subj, pred, obj) rows; the question a
knowledge-graph consumer asks next is conjunctive: "files that DEFINE a
symbol which REFERENCES a symbol DEFINED elsewhere", "pairs of callers
of the same hub".  :func:`match_pattern` is a tiny SPARQL-BGP-style
matcher: a pattern is a list of (subject, predicate, object) terms where
``?name`` terms are variables and everything else is a constant; the
result is one row per satisfying binding, one column per variable.

Compilation is a left-deep tree of equi-joins over per-triple slices of
the edge table — declarative DataFrame ops end to end, so Catalyst owns
the physical strategy:

* every constant (predicate or endpoint) becomes a ``filter`` on the
  slice, which reaches the parquet/Iceberg scan as a pushed predicate
  (row-group min/max stats skip what they can). The batch store's
  ``edges_canonical`` and the streaming sink are partitioned by
  ``pred``, so a constant predicate is a partition filter there and the
  slice reads that predicate's directory only;
* join order is greedy-connected: start from the most-constrained
  triple (most constants), then repeatedly attach a triple sharing a
  variable with the bound set.  Disconnected patterns raise rather than
  silently cross-join (``allow_product=True`` opts in);
* every join is an equi-join on node-id columns — AQE handles skewed
  hubs (mega-symbols) by splitting stragglers, and a slice whose
  filters make it metadata-small is broadcast by Catalyst's size
  estimate without a hint.

Cyclic patterns (triangles) are where left-deep binary joins are
asymptotically beatable — the worst-case-optimal-join literature (see
PAPERS.md: NPRR / Leapfrog Triejoin) binds one VARIABLE at a time
instead of one EDGE at a time.  For the common triangle case this
module is honest about the limit: :func:`pawpaw_spark.operators.graph.
triangle_count`'s degree-ordered orientation is the specialized plan
(out-neighborhoods bounded by O(sqrt(m))), and its docstring is the
scale guidance; `match_pattern` still answers cyclic patterns correctly
because the last closing edge is applied as a semijoin-style equi-join
on BOTH endpoints at once, never a filtered cross product.

Reference parity: the reference has no query language over its emitted
triples (consumers iterate `find_all` over the Ito tree,
``/root/reference/pawpaw/query/_query.py`` — a per-document axis
language, not a graph one); this operator is part of the beyond-parity
KG-consumer surface like graph.py.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Triple = tuple[str, str | None, str]

_PATH_META = set("/|^+*?()! \t")


def _is_var(term: str | None) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _is_path(term: str | None) -> bool:
    """A predicate term is a PATH EXPRESSION (not a plain predicate
    constant) iff it contains a path operator. A leading ``?`` is the
    VARIABLE sigil, not the zero-or-one postfix (which can never start
    a path), so variables are excluded here regardless of caller
    check order."""
    return (
        isinstance(term, str)
        and not term.startswith("?")
        and any(c in _PATH_META for c in term)
    )


# --------------------------------------------------------------------
# SPARQL 1.1 property-path subset: parser + DataFrame compiler
#
# path     := seq ('|' seq)*           alternation (lowest precedence)
# seq      := elt ('/' elt)*           sequence
# elt      := '^' elt | prim postfix*  inverse binds the whole element
# postfix  := '+' | '*' | '?'          one-or-more / refl-trans / opt
# prim     := '(' path ')' | NAME      NAME = any run of non-operator chars
#
# Compilation is closed over (src, dst) pair tables: every node is a
# declarative DataFrame op (filter / join / union / distinct), so the
# whole path plan stays inside Catalyst. '+' is the only iterative
# form — a semi-naive transitive closure (_closure: delta ∘ base per
# round, new pairs only), each round one equi-join + one anti-join
# under fixpoint_loop_conf, checkpoint-truncated lineage. rounds
# needed = the graph's HOP DIAMETER along that predicate;
# ``square=True`` switches to recursive doubling (delta ∘ R),
# ceil(log2(diameter)) rounds at a heavier per-round join, for
# deep-chain graphs.
# --------------------------------------------------------------------


def parse_path(expr: str):
    """Parse a property-path expression into an AST of tuples:
    ``('pred', name) | ('inv', x) | ('seq', a, b) | ('alt', a, b) |
    ('plus', x) | ('star', x) | ('opt', x) | ('nps', names)``
    (``!p`` / ``!(p1|p2)`` — SPARQL 1.1 negated property sets, plain
    forward names only in this canonical subset). Raises ValueError
    with the offending position on malformed input."""
    toks: list[str] = []
    i, n = 0, len(expr)
    while i < n:
        c = expr[i]
        if c in " \t":
            i += 1
        elif c in "/|^+*?()!":
            toks.append(c)
            i += 1
        else:
            j = i
            while j < n and expr[j] not in _PATH_META:
                j += 1
            toks.append(expr[i:j])
            i = j
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_alt():
        node = parse_seq()
        while peek() == "|":
            take()
            node = ("alt", node, parse_seq())
        return node

    def parse_seq():
        node = parse_elt()
        while peek() == "/":
            take()
            node = ("seq", node, parse_elt())
        return node

    def parse_elt():
        if peek() == "^":
            take()
            return ("inv", parse_elt())
        if peek() == "!":
            take()
            names = []
            if peek() == "(":
                take()
                while True:
                    t = peek()
                    if t is None or t in "/|^+*?()!":
                        raise ValueError(
                            f"expected predicate name in negated set in "
                            f"path {expr!r}, got {t!r}"
                        )
                    names.append(take())
                    if peek() == "|":
                        take()
                        continue
                    if peek() == ")":
                        take()
                        break
                    raise ValueError(
                        f"expected '|' or ')' in negated set in path "
                        f"{expr!r}, got {peek()!r}"
                    )
            else:
                t = peek()
                if t is None or t in "/|^+*?()!":
                    raise ValueError(
                        f"expected predicate name after '!' in path "
                        f"{expr!r}, got {t!r}"
                    )
                names.append(take())
            node = ("nps", tuple(sorted(set(names))))
            while peek() in ("+", "*", "?"):
                node = ({"+": "plus", "*": "star", "?": "opt"}[take()], node)
            return node
        if peek() == "(":
            take()
            node = parse_alt()
            if peek() != ")":
                raise ValueError(f"unbalanced '(' in path {expr!r}")
            take()
        else:
            t = peek()
            if t is None or t in "/|^+*?()":
                raise ValueError(
                    f"expected predicate name at token {pos} in path "
                    f"{expr!r}, got {t!r}"
                )
            node = ("pred", take())
        while peek() in ("+", "*", "?"):
            node = ({"+": "plus", "*": "star", "?": "opt"}[take()], node)
        return node

    node = parse_alt()
    if pos != len(toks):
        raise ValueError(f"trailing tokens {toks[pos:]} in path {expr!r}")
    return node


def _pairs_distinct(df: DataFrame) -> DataFrame:
    return df.select("src", "dst").distinct()


def _closure(
    base: DataFrame,
    max_rounds: int,
    square: bool,
    key: Sequence[str] = (),
    init=None,
) -> DataFrame:
    """Transitive closure of a (``*key``, src, dst) pair table, new
    pairs only per round (semi-naive, :func:`pawpaw_spark.session.
    semi_naive`). ``square=False``: delta ∘ base, rounds = hop
    diameter, total join work O(|closure| * avg_out_degree) — the
    optimal incremental cost. ``square=True``: delta ∘ closure-so-far
    (recursive doubling), ceil(log2(diameter)) rounds for deep chains.

    ``key`` columns partition the closure: pairs only compose within a
    key (every predicate of a keyed table closes in ONE fixpoint).
    ``init``, a filter Column over ``base``, seeds the state with the
    rows it keeps instead of all of ``base``. ``src == seed`` is the
    anchored frontier: the pairs (seed, dst) for every dst reachable in
    >= 1 step, with O(|reachable|) per-round state, never the full
    closure, and rounds = the hop radius from the seed. A seeded
    closure cannot double (seed pairs only compose with base pairs), so
    ``square=True`` callers use the full closure instead."""
    from pawpaw_spark.session import (
        fixpoint_loop_conf,
        semi_naive,
        truncated_checkpoint,
    )

    cols = [*key, "src", "dst"]
    base = base.select(*cols).distinct().persist()
    try:
        n_base = base.count()  # materializes; sizes the loop width
        with fixpoint_loop_conf(base.sparkSession, approx_state_rows=n_base):
            reach = truncated_checkpoint(
                base if init is None else base.filter(init)
            )

            def step(delta, facts, _r):
                right = facts if square else base
                on = [F.col(f"d.{k}") == F.col(f"b.{k}") for k in key]
                return delta.alias("d").join(
                    right.alias("b"), on + [F.col("d.dst") == F.col("b.src")]
                ).select(
                    *[F.col(f"d.{k}") for k in key],
                    F.col("d.src").alias("src"),
                    F.col("b.dst").alias("dst"),
                )

            reach, _ = semi_naive(
                reach, reach, step, cols, max_rounds, "transitive closure",
                "rounds needed = hop diameter, or log2(diameter) with "
                "square=True; from an anchor, its hop radius",
            )
            return reach
    finally:
        base.unpersist()


def path_pairs(
    edges: DataFrame,
    expr: str,
    *,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    max_rounds: int = 64,
    square: bool = False,
    anchor_src: str | None = None,
    anchor_dst: str | None = None,
) -> DataFrame:
    """Evaluate a property-path expression over a triple table ->
    the DISTINCT (src, dst) pairs connected by the path.

    Zero-length path elements (``*``/``?``) contribute the identity
    pair (n, n) for every term of the GRAPH (all subjects and objects,
    any predicate) — SPARQL 1.1 zero-length-path semantics. The node
    universe is computed once per call and only when the expression
    needs it.

    ``anchor_src`` / ``anchor_dst`` are OPTIMIZATION HINTS from the
    caller's constant endpoints (``_slice`` passes them): the result
    then only needs to be correct for rows matching the anchors, and a
    top-level ``+``/``*`` (possibly under ``^``) runs as a SEEDED
    semi-naive frontier from the constant — O(reachable-set) state —
    instead of materializing the full O(closure) pair table and
    filtering it. Any other expression shape ignores the hints (full
    evaluation stays correct; the caller's filters still apply)."""
    ast = parse_path(expr)
    nodes_df: list[DataFrame | None] = [None]  # lazy one-shot cell

    def nodes() -> DataFrame:
        if nodes_df[0] is None:
            nodes_df[0] = (
                edges.select(F.col(subj_col).alias("n"))
                .union(edges.select(F.col(obj_col).alias("n")))
                .distinct()
                .select(F.col("n").alias("src"), F.col("n").alias("dst"))
            )
        return nodes_df[0]

    def compile_(node) -> DataFrame:
        kind = node[0]
        if kind == "pred":
            return _pairs_distinct(
                edges.filter(F.col(pred_col) == node[1]).select(
                    F.col(subj_col).alias("src"), F.col(obj_col).alias("dst")
                )
            )
        if kind == "inv":
            inner = compile_(node[1])
            return inner.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        if kind == "seq":
            a, b = compile_(node[1]), compile_(node[2])
            return _pairs_distinct(
                a.alias("a")
                .join(b.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            )
        if kind == "alt":
            return _pairs_distinct(compile_(node[1]).union(compile_(node[2])))
        if kind == "nps":
            # everything EXCEPT the named predicates — one pushed
            # NOT-IN filter on the scan, still a single pred slice shape
            return _pairs_distinct(
                edges.filter(~F.col(pred_col).isin(*node[1])).select(
                    F.col(subj_col).alias("src"), F.col(obj_col).alias("dst")
                )
            )
        if kind == "plus":
            return _closure(compile_(node[1]), max_rounds, square)
        if kind == "star":
            return _pairs_distinct(
                _closure(compile_(node[1]), max_rounds, square).union(nodes())
            )
        if kind == "opt":
            return _pairs_distinct(compile_(node[1]).union(nodes()))
        raise AssertionError(f"unknown path node {node!r}")

    # square=True promises log-round convergence via recursive doubling,
    # which the linear seeded frontier cannot honor — a deep graph that
    # converges under squaring could exceed max_rounds seeded. Fall back
    # to the full (squared) closure; the caller's filters still apply.
    if (anchor_src is not None or anchor_dst is not None) and not square:
        node, flipped = ast, False
        while node[0] == "inv":
            node, flipped = node[1], not flipped
        a_src, a_dst = (
            (anchor_dst, anchor_src) if flipped else (anchor_src, anchor_dst)
        )
        if node[0] in ("plus", "star") and (
            a_src is not None or a_dst is not None
        ):
            base = compile_(node[1])
            anchor = a_src if a_src is not None else a_dst
            if a_src is None:
                base = base.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            seeded = _closure(
                base, max_rounds, False, init=F.col("src") == anchor
            )
            if a_src is None:
                seeded = seeded.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            if node[0] == "star":
                # zero-length pair (a, a) iff a is a term of the graph
                ident = nodes().filter(F.col("src") == anchor)
                seeded = _pairs_distinct(seeded.union(ident))
            if flipped:
                seeded = seeded.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            return seeded

    return compile_(ast)


def _vars_of(t: Triple) -> set[str]:
    return {x[1:] for x in t if _is_var(x)}


def _slice(
    edges: DataFrame,
    t: Triple,
    subj_col: str,
    pred_col: str,
    obj_col: str,
    path_conf: dict | None = None,
    extra: list | None = None,
) -> DataFrame:
    """One pattern triple -> the edge slice with variable-named columns.
    ``extra`` appends further columns to every slice (the quad
    matcher's graph-variable binding rides here).

    Constants become filters (pushed to the scan); a variable repeated
    inside the triple (e.g. ``('?a', 'CALLS', '?a')`` self loops)
    becomes an intra-row equality filter. A PATH predicate (contains a
    path operator, e.g. ``'DEFINES/REFERENCES'`` or ``'CALLS+'``)
    compiles to its (src, dst) pair table first (:func:`path_pairs`);
    endpoint CONSTANTS are passed down as anchor hints, so a
    constant-anchored top-level ``+``/``*`` closure runs as a seeded
    semi-naive frontier — O(reachable) state instead of the full
    O(closure) pair table — and the residual constant filters below
    stay (idempotent on the seeded result, load-bearing for every
    other path shape).
    """
    s, p, o = t
    if _is_path(p):
        df = path_pairs(
            edges,
            p,
            subj_col=subj_col,
            pred_col=pred_col,
            obj_col=obj_col,
            anchor_src=None if (s is None or _is_var(s)) else s,
            anchor_dst=None if (o is None or _is_var(o)) else o,
            **(path_conf or {}),
        )
        scol, ocol = "src", "dst"
    else:
        df = edges
        scol, ocol = subj_col, obj_col
    cols = []
    if _is_var(p):
        cols.append(F.col(pred_col).alias(p[1:]))
    elif p is not None and not _is_path(p):
        df = df.filter(F.col(pred_col) == p)
    if _is_var(s):
        cols.append(F.col(scol).alias(s[1:]))
    else:
        df = df.filter(F.col(scol) == s)
    if _is_var(o):
        if _is_var(s) and o == s:
            # self-loop pattern: both ends the same variable; keep the
            # subj binding only
            df = df.filter(F.col(scol) == F.col(ocol))
        else:
            cols.append(F.col(ocol).alias(o[1:]))
    else:
        df = df.filter(F.col(ocol) == o)
    if _is_var(p) and (p == s or p == o):
        raise ValueError(f"predicate variable {p} reused as an endpoint")
    if not cols and not extra:
        raise ValueError(f"pattern triple {t} binds no variables")
    return df.select(*cols, *(extra or []))


def _const_slice(
    edges: DataFrame,
    t: Triple,
    subj_col: str,
    pred_col: str,
    obj_col: str,
    path_conf: dict | None = None,
) -> DataFrame:
    """A fully-constant triple -> the (possibly empty) matching edge
    slice, used as an existence semijoin: the pattern matches iff the
    slice is non-empty. All three filters push to the scan (for a path
    predicate, onto the compiled pair table)."""
    s, p, o = t
    if _is_path(p):
        pairs = path_pairs(
            edges, p, subj_col=subj_col, pred_col=pred_col,
            obj_col=obj_col, anchor_src=s, anchor_dst=o,
            **(path_conf or {}),
        )
        return pairs.filter(F.col("src") == s).filter(F.col("dst") == o)
    df = edges.filter(F.col(subj_col) == s).filter(F.col(obj_col) == o)
    if p is not None:
        df = df.filter(F.col(pred_col) == p)
    return df


def _estimated_size(t: Triple, pred_counts: dict, total: int) -> float:
    """Estimated slice cardinality from per-predicate edge counts:
    the predicate's count (the whole table for a variable/wildcard
    predicate, 4x for a path expression — unions/closures only grow),
    divided by 10 per constant endpoint (the classic fixed-selectivity
    guess; exact endpoint histograms would cost a second scan and the
    ordering only needs relative magnitudes)."""
    s, p, o = t
    if p is None or _is_var(p):
        est = float(total)
    elif _is_path(p):
        est = 4.0 * total
    else:
        est = float(pred_counts.get(p, 0))
    for x in (s, o):
        if x is not None and not _is_var(x):
            est /= 10.0
    return est


def _order_triples(
    pattern: Sequence[Triple],
    allow_product: bool,
    pred_counts: dict | None = None,
) -> list[Triple]:
    """Greedy-connected ordering: most-constrained first, then always a
    triple sharing a variable with the already-bound set.

    ``pred_counts`` (from ``collect_stats=True``) switches the
    constraint score from the constants-count heuristic to estimated
    slice cardinality — the smallest estimated slice seeds the join
    tree and joins attach smallest-first, the textbook greedy
    cost-based BGP ordering (selectivity-ordered joins keep every
    intermediate binding table as small as the data allows, which at
    100 TB is the difference between shuffling a pred-slice and
    shuffling the whole edge table)."""

    def n_const(t: Triple) -> int:
        # None is an any-predicate wildcard, not a constant: it doesn't
        # constrain the slice, so it must not raise the seed score. A
        # PATH predicate likewise: its pair table (a union/closure) is
        # usually LARGER than a single-predicate slice, so it must not
        # look like the most-constrained seed either.
        s, p, o = t
        score = sum(1 for x in (s, o) if x is not None and not _is_var(x))
        if p is not None and not _is_var(p) and not _is_path(p):
            score += 1
        return score

    if pred_counts is not None:
        total = max(sum(pred_counts.values()), 1)

        def rank(i: int):
            # smaller estimate first; constants break ties
            return (
                _estimated_size(pattern[i], pred_counts, total),
                -n_const(pattern[i]),
                i,
            )
    else:

        def rank(i: int):
            return (-n_const(pattern[i]), i)

    remaining = sorted(range(len(pattern)), key=rank)
    order: list[Triple] = []
    bound: set[str] = set()
    while remaining:
        pick = None
        for i in remaining:
            if not order or (_vars_of(pattern[i]) & bound):
                pick = i
                break
        if pick is None:
            if not allow_product:
                raise ValueError(
                    "pattern is disconnected (would require a cross "
                    "product); pass allow_product=True to opt in"
                )
            pick = remaining[0]
        remaining.remove(pick)
        order.append(pattern[pick])
        bound |= _vars_of(pattern[pick])
    return order


def _compile_group(
    edges: DataFrame,
    group: Sequence[Triple],
    outer_vars: set[str],
    allow_product: bool,
    subj_col: str,
    pred_col: str,
    obj_col: str,
    path_conf: dict | None = None,
    pred_counts: dict | None = None,
) -> tuple[DataFrame, list[str]]:
    """One OPTIONAL group -> (its inner-joined binding table, the join
    keys it shares with the required pattern).  Triples inside a group
    are ordered greedy-connected like the required pattern, except the
    bound set is SEEDED with the outer variables: a triple is reachable
    either through a group-internal variable or through a required
    variable it mentions.  Two group triples connected only through
    DIFFERENT outer variables would still need a product (their slices
    constrain independent rows) — that raises, with the fix being two
    separate groups (which left-join independently)."""
    if pred_counts is not None:
        total = max(sum(pred_counts.values()), 1)
        remaining = sorted(
            range(len(group)),
            key=lambda i: (
                _estimated_size(group[i], pred_counts, total),
                i,
            ),
        )
    else:
        remaining = sorted(
            range(len(group)),
            key=lambda i: -sum(
                1 for x in group[i] if x is not None and not _is_var(x)
            ),
        )
    bound = set(outer_vars)
    order: list[Triple] = []
    for t in group:
        if not _vars_of(t):
            raise ValueError(
                f"optional triple {t} binds no variables; constant "
                "existence constraints belong in the required pattern"
            )
    while remaining:
        pick = None
        for i in remaining:
            if not order or (_vars_of(group[i]) & bound):
                pick = i
                break
        if pick is None:
            raise ValueError(
                "optional group is disconnected from the required "
                "pattern and itself"
            )
        remaining.remove(pick)
        order.append(group[pick])
        bound |= _vars_of(group[pick])
    g = _slice(edges, order[0], subj_col, pred_col, obj_col, path_conf)
    g_cols = _vars_of(order[0])
    for t in order[1:]:
        sl = _slice(edges, t, subj_col, pred_col, obj_col, path_conf)
        shared = sorted(g_cols & _vars_of(t))
        if shared:
            g = g.join(sl, on=shared, how="inner")
        elif allow_product:
            g = g.crossJoin(sl)
        else:
            raise ValueError(
                f"optional triple {t} shares no already-bound group "
                "column (a product); split into separate optional "
                "groups or pass allow_product=True"
            )
        g_cols |= _vars_of(t)
    keys = sorted(g_cols & outer_vars)
    if not keys:
        raise ValueError(
            "optional group shares no variable with the required "
            "pattern (the left join would be a product)"
        )
    return g, keys


def match_pattern(
    edges: DataFrame,
    pattern: Sequence[Triple],
    *,
    optional: Sequence[Sequence[Triple]] = (),
    not_exists: Sequence[Sequence[Triple]] = (),
    minus: Sequence[Sequence[Triple]] = (),
    neq: Sequence[tuple[str, str]] = (),
    distinct: bool = True,
    allow_product: bool = False,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    path_max_rounds: int = 64,
    path_square: bool = False,
    collect_stats: bool = False,
) -> DataFrame:
    """Conjunctive pattern match -> one row per binding, one column per
    ``?variable`` (column name without the ``?``).

    ``collect_stats=True`` runs ONE per-predicate count over the edge
    table (metadata-sized result: one row per distinct predicate — a
    KG schema, not the data) and orders the join tree by estimated
    slice cardinality instead of the constants-count heuristic: the
    smallest estimated slice seeds the tree and each join attaches the
    smallest connected slice next. Worth the extra scan when predicate
    frequencies are skewed (a CONTAINS slice a thousand times the
    DEFINES slice) and the pattern is 3+ triples; pointless for
    single-predicate patterns. Results are identical either way.

    ``pattern``: triples of terms; ``?x`` terms are variables, ``None``
    as predicate matches any predicate without binding it, anything
    else is a constant.  ``neq`` lists variable pairs that must bind to
    different values (applied as soon as both are bound, so the filter
    runs at the earliest join, not on the final result).

    A predicate containing a path operator is a SPARQL 1.1 PROPERTY
    PATH over the triple table — ``'DEFINES/REFERENCES'`` (sequence),
    ``'CALLS|IMPORTS'`` (alternation), ``'^DEFINES'`` (inverse),
    ``'CALLS+'`` / ``'CALLS*'`` / ``'CALLS?'`` (one-or-more /
    reflexive-transitive / zero-or-one), parenthesized compositions —
    compiled by :func:`path_pairs` into a distinct (src, dst) pair
    table that joins like any other slice.  ``path_max_rounds`` bounds
    the ``+``/``*`` closure fixpoint (raises on non-convergence);
    ``path_square=True`` switches the closure to recursive doubling
    (log2(diameter) rounds) for deep-chain graphs.

    A fully-constant triple (a SPARQL-BGP existential constraint, e.g.
    ``('a', 'CALLS', 'c')`` alongside variable triples) is applied as
    an existence semijoin: the result is unchanged if at least one edge
    matches it and empty otherwise.  It is excluded from the
    connectivity check (it shares no variables by construction).  A
    pattern consisting ONLY of constant triples binds no variables and
    raises — use a plain ``filter``/``count`` for a pure ASK.

    ``distinct=True`` (default) returns set semantics — two distinct
    edges producing the same variable binding collapse, matching
    SPARQL ``SELECT DISTINCT`` and making results independent of edge
    multiplicity.

    ``optional`` lists OPTIONAL groups (each a sequence of triples,
    SPARQL ``OPTIONAL { ... }``): each group is compiled to its own
    inner-joined binding table and LEFT-joined onto the required
    result on the variables it shares with the required pattern —
    required rows with no group match keep NULL for the group's new
    variables.  Groups are independent left joins (SPARQL's sequential
    OPTIONAL semantics for groups that don't share new variables);
    a new variable appearing in two groups raises, as does a group
    sharing no variable with the required pattern.  ``neq`` may only
    reference required variables: a NULL comparison would silently
    drop the unmatched row and corrupt the OPTIONAL semantics.

    ``not_exists`` lists NEGATION groups (SPARQL ``FILTER NOT EXISTS
    { ... }``): a required binding survives iff the group pattern has
    NO match agreeing with it on the variables they share.  Each group
    compiles to its own inner-joined binding table and is applied as
    one LEFT ANTI join on the shared variables — variables private to
    the group are existentials, projected away by the anti-join
    itself.  Applied AFTER the required joins and BEFORE the OPTIONAL
    left joins (negation filters required solutions per SPARQL
    semantics, and shrinking the left side first makes the OPTIONAL
    joins cheaper).  A group sharing no variable with the required
    pattern raises — an uncorrelated NOT EXISTS is a plain ASK the
    caller can express with ``filter().limit(1)`` directly (the
    constant-triple doctrine).  On the accepted (correlated) forms,
    SPARQL ``NOT EXISTS`` and ``MINUS`` coincide.

    ``minus`` lists MINUS groups (SPARQL ``MINUS { ... }``): compiled
    exactly like ``not_exists`` — one left-anti join on the variables
    shared with the required pattern — EXCEPT that a group sharing no
    variable is a NO-OP (SPARQL's disjoint-domain rule: solutions with
    no variable in common are never removed), where ``not_exists``
    raises. That disjoint-domain rule is the one observable difference
    between the two forms in this subset.
    """
    if not pattern:
        raise ValueError("pattern must contain at least one triple")
    for a, b in neq:
        if not (_is_var(a) and _is_var(b)):
            raise ValueError(f"neq terms must be variables: ({a}, {b})")
    all_vars: set[str] = set()
    for t in pattern:
        all_vars |= _vars_of(t)
    for a, b in neq:
        if a[1:] not in all_vars or b[1:] not in all_vars:
            raise ValueError(
                f"neq variable not in the required pattern: ({a}, {b})"
            )
    claimed_new: set[str] = set()
    for grp in optional:
        if not grp:
            raise ValueError("optional group must contain >= 1 triple")
        new_vars = set().union(*(_vars_of(t) for t in grp)) - all_vars
        overlap = new_vars & claimed_new
        if overlap:
            raise ValueError(
                f"optional variable(s) {sorted(overlap)} appear in two "
                "groups; bind shared optional structure in one group"
            )
        claimed_new |= new_vars
    for grp in not_exists:
        if not grp:
            raise ValueError("not_exists group must contain >= 1 triple")
    for grp in minus:
        if not grp:
            raise ValueError("minus group must contain >= 1 triple")

    var_triples = [t for t in pattern if _vars_of(t)]
    const_triples = [t for t in pattern if not _vars_of(t)]
    if not var_triples:
        raise ValueError(
            "pattern binds no variables (all triples constant); use a "
            "plain filter/count for an existence-only ASK"
        )

    path_conf = {"max_rounds": path_max_rounds, "square": path_square}
    pred_counts = None
    if collect_stats:
        pred_counts = {
            r["pred"]: r["n"]
            for r in edges.groupBy(
                F.col(pred_col).alias("pred")
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }
    ordered = _order_triples(var_triples, allow_product, pred_counts)
    out = _slice(edges, ordered[0], subj_col, pred_col, obj_col, path_conf)
    # existence semijoins first: each is a <=1-row broadcast side, so a
    # failed constant constraint empties the plan before any real join
    for i, t in enumerate(const_triples):
        probe = (
            _const_slice(edges, t, subj_col, pred_col, obj_col, path_conf)
            .limit(1)
            .select(F.lit(1).alias(f"__exists_{i}__"))
        )
        out = out.crossJoin(probe).drop(f"__exists_{i}__")
    bound = _vars_of(ordered[0])
    applied: set[tuple[str, str]] = set()

    def apply_neq(df: DataFrame, bound: set[str]) -> DataFrame:
        for a, b in neq:
            key = (a[1:], b[1:])
            if key in applied:
                continue
            if key[0] in bound and key[1] in bound:
                df = df.filter(F.col(key[0]) != F.col(key[1]))
                applied.add(key)
        return df

    out = apply_neq(out, bound)
    for t in ordered[1:]:
        sl = _slice(edges, t, subj_col, pred_col, obj_col, path_conf)
        shared = sorted(bound & _vars_of(t))
        if shared:
            out = out.join(sl, on=shared, how="inner")
        else:
            out = out.crossJoin(sl)
        bound |= _vars_of(t)
        out = apply_neq(out, bound)

    # NOT EXISTS groups: each compiles like an OPTIONAL group, then
    # anti-joins on its required-shared variables; group-private
    # variables are existentials the anti-join projects away. The
    # right side is key-pruned by Catalyst (anti-join reads only the
    # join keys), so a wide group costs its joins, not its width.
    for grp in not_exists:
        g, keys = _compile_group(
            edges, grp, all_vars, allow_product, subj_col, pred_col,
            obj_col, path_conf, pred_counts,
        )
        out = out.join(g.select(*keys), on=keys, how="left_anti")

    # MINUS groups: identical anti-join compile, but the SPARQL
    # disjoint-domain rule makes an uncorrelated group a no-op
    for grp in minus:
        grp_vars = set().union(*(_vars_of(t) for t in grp))
        if not (grp_vars & all_vars):
            continue
        g, keys = _compile_group(
            edges, grp, all_vars, allow_product, subj_col, pred_col,
            obj_col, path_conf, pred_counts,
        )
        out = out.join(g.select(*keys), on=keys, how="left_anti")

    # OPTIONAL groups: each compiles to its own binding table and
    # left-joins on its required-shared variables — an equi-join like
    # every other join here, so AQE/broadcast strategies apply as usual
    for grp in optional:
        g, keys = _compile_group(
            edges, grp, all_vars, allow_product, subj_col, pred_col,
            obj_col, path_conf, pred_counts,
        )
        out = out.join(g, on=keys, how="left")

    # stable column order: first mention in the ORIGINAL pattern, then
    # each optional group's new variables in mention order
    seen: list[str] = []
    for t in pattern:
        for x in t:
            if _is_var(x) and x[1:] not in seen:
                seen.append(x[1:])
    for grp in optional:
        for t in grp:
            for x in t:
                if _is_var(x) and x[1:] not in seen:
                    seen.append(x[1:])
    if out.columns != seen:
        out = out.select(*seen)
    return out.distinct() if distinct else out


def construct(
    edges: DataFrame,
    pattern: Sequence[Triple],
    template: Sequence[tuple[str, str, str]],
    **match_kwargs,
) -> DataFrame:
    """SPARQL ``CONSTRUCT``: match ``pattern`` (every
    :func:`match_pattern` keyword — ``optional``, ``not_exists``,
    ``neq``, paths — applies), then instantiate each ``template``
    triple per binding -> a NEW (subj, pred, obj) triple table.

    This is the KG-construction closing move: derived relations
    (DEPENDS_ON from DEFINES∘REFERENCES∘DEFINES⁻¹, typed enrichment
    edges, rollup summaries) are emitted as first-class triples the
    whole downstream surface — match_pattern itself, graph.py
    analytics, infer() rule bodies, N-Triples export, the partitioned
    edge store — consumes unchanged. The Datalog layer (infer) covers
    recursive single-head rules; CONSTRUCT covers the non-recursive
    multi-template projection SPARQL users write.

    Template terms are ``?var`` (must be bound by the required pattern
    or an OPTIONAL group) or constants; the predicate term must be a
    constant or a required/optional variable (a path expression makes
    no sense as an EMITTED predicate and raises). Per SPARQL CONSTRUCT
    semantics, a binding instantiates a template triple only when all
    three positions are non-NULL — bindings where an OPTIONAL variable
    came back NULL skip that template row, not the whole binding.
    Output is DISTINCT across templates and bindings (RDF graphs are
    triple SETS). Plan shape: the match plan + one projection per
    template + a union + one dedup shuffle — no new scans.
    """
    if not template:
        raise ValueError("template must contain at least one triple")
    m = match_pattern(edges, pattern, **match_kwargs)
    bound = set(m.columns)
    for t in template:
        if len(t) != 3:
            raise ValueError(f"template triple must have 3 terms: {t!r}")
        s, p, o = t
        if p is None or _is_path(p):
            raise ValueError(
                f"template predicate must be a constant or variable: {t!r}"
            )
        for x in (s, p, o):
            if x is None:
                raise ValueError(
                    f"template terms must be variables or constants: {t!r}"
                )
            if _is_var(x) and x[1:] not in bound:
                raise ValueError(
                    f"template variable {x} is not bound by the pattern "
                    f"(bound: {sorted(bound)})"
                )

    def term(x: str):
        col = F.col(x[1:]) if _is_var(x) else F.lit(x)
        return col.cast("string")

    out = None
    for s, p, o in template:
        row = m.select(
            term(s).alias("subj"), term(p).alias("pred"), term(o).alias("obj")
        ).filter(
            F.col("subj").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("obj").isNotNull()
        )
        out = row if out is None else out.union(row)
    return out.distinct()


def match_quads(
    quads: DataFrame,
    pattern: Sequence[Triple],
    graph: str | None = None,
    *,
    neq: Sequence[tuple[str, str]] = (),
    distinct: bool = True,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    graph_col: str = "graph",
    **kwargs,
) -> DataFrame:
    """SPARQL ``GRAPH`` over a quad table (subj, pred, obj, graph).

    ``graph`` is the graph term:

    * a constant name — ``GRAPH <g> { pattern }``: the quad table is
      sliced to that graph (a scan-pushed filter) and the full
      :func:`match_pattern` feature set (paths, OPTIONAL, negation,
      stats ordering — everything in ``**kwargs``) applies within it;
    * ``None`` — the default graph: rows with a NULL graph label,
      same full delegation;
    * a ``?variable`` — ``GRAPH ?g { pattern }``: the variable ranges
      over the NAMED graphs and every triple of the pattern must match
      inside the SAME graph (the W3C active-graph semantics), with the
      graph name bound as an ordinary output column.  The graph
      binding makes every triple share ``?g``, so each BGP join keys
      on (shared vars + graph) — cross-graph bindings are impossible
      by construction, and a pattern whose triples share no other
      variable is still NOT a product (the graph key partitions it).
      OPTIONAL and FILTER NOT EXISTS groups are supported and scope to
      the ACTIVE graph (every group triple binds ?g, so the left/anti
      join keys always include the graph — a group matches only within
      the same named graph as the required part, the W3C semantics).
      Path predicates anywhere, and MINUS groups, raise under a
      VARIABLE graph: a per-graph closure is a different computation —
      slice to a constant graph first, or run the closure over
      ``quads.filter(col(graph_col) == g)`` per graph of interest.

    Returns one row per binding, one column per variable (the graph
    variable included). Scale shape identical to :func:`match_pattern`:
    pred-sliced hash equi-joins, nothing quadratic.
    """
    if graph is None or not _is_var(graph):
        sliced = (
            quads.filter(F.col(graph_col).isNull())
            if graph is None
            else quads.filter(F.col(graph_col) == graph)
        ).drop(graph_col)
        return match_pattern(
            sliced,
            pattern,
            neq=neq,
            distinct=distinct,
            subj_col=subj_col,
            pred_col=pred_col,
            obj_col=obj_col,
            **kwargs,
        )

    if kwargs.get("minus"):
        raise ValueError(
            "GRAPH ?var with MINUS groups is not supported (the "
            "disjoint-domain rule interacts with the implicit shared "
            "graph variable); use not_exists, or slice to a constant "
            "graph first"
        )
    optional = kwargs.pop("optional", ()) or ()
    not_exists = kwargs.pop("not_exists", ()) or ()
    kwargs.pop("minus", None)
    gvar = graph[1:]
    if not pattern:
        raise ValueError("pattern must contain at least one triple")

    def _check_triples(ts, where):
        for t in ts:
            if _is_path(t[1]):
                raise ValueError(
                    f"path predicate {t[1]!r} under GRAPH ?var is not "
                    "supported (per-graph closure); filter to a "
                    "constant graph first"
                )
            if gvar in _vars_of(t):
                raise ValueError(
                    f"graph variable {graph} reused inside {where}"
                )
            if not _vars_of(t):
                raise ValueError(
                    f"{where} triple {t} binds no variables; constant "
                    "existence under GRAPH ?var is not supported"
                )

    _check_triples(pattern, "the pattern")
    for grp in (*optional, *not_exists):
        if not grp:
            raise ValueError("a group must contain >= 1 triple")
        _check_triples(grp, "a group")
    for a, b in neq:
        if not (_is_var(a) and _is_var(b)):
            raise ValueError(f"neq terms must be variables: ({a}, {b})")

    named = quads.filter(F.col(graph_col).isNotNull())
    gbind = [F.col(graph_col).alias(gvar)]
    # greedy-constrained order; connectivity through ?g is implicit,
    # so the product guard is waived (the graph key always joins)
    ordered = _order_triples(pattern, True, None)
    out = _slice(
        named, ordered[0], subj_col, pred_col, obj_col, None, extra=gbind
    )
    cols = _vars_of(ordered[0]) | {gvar}
    for t in ordered[1:]:
        sl = _slice(
            named, t, subj_col, pred_col, obj_col, None, extra=gbind
        )
        shared = sorted((cols & _vars_of(t)) | {gvar})
        out = out.join(sl, on=shared, how="inner")
        cols |= _vars_of(t)
    def _quad_group(grp):
        """One OPTIONAL/NOT-EXISTS group under the active graph ->
        (inner-joined binding frame incl. the graph column, the keys
        shared with the required frame). Every triple binds the graph
        variable, so groups are never disconnected and always share at
        least ?g with the required pattern — W3C active-graph scoping:
        the group must match within the SAME graph as the required
        part."""
        g_order = _order_triples(grp, True, None)
        gf = _slice(
            named, g_order[0], subj_col, pred_col, obj_col, None,
            extra=gbind,
        )
        g_cols = _vars_of(g_order[0]) | {gvar}
        for t in g_order[1:]:
            sl = _slice(
                named, t, subj_col, pred_col, obj_col, None, extra=gbind
            )
            gf = gf.join(
                sl, on=sorted((g_cols & _vars_of(t)) | {gvar}),
                how="inner",
            )
            g_cols |= _vars_of(t)
        keys = sorted((g_cols & cols) | {gvar})
        return gf.select(*sorted(g_cols)), keys, g_cols

    for grp in not_exists:
        gf, keys, _ = _quad_group(grp)
        out = out.join(gf, on=keys, how="left_anti")
    claimed: set[str] = set()
    for grp in optional:
        gf, keys, g_cols = _quad_group(grp)
        new_vars = g_cols - cols
        overlap = new_vars & claimed
        if overlap:
            raise ValueError(
                f"optional variable(s) {sorted(overlap)} appear in "
                "two groups; bind shared optional structure in one "
                "group"
            )
        claimed |= new_vars
        if distinct:
            gf = gf.distinct()
        out = out.join(gf, on=keys, how="left")
        cols |= g_cols
    for a, b in neq:
        out = out.filter(F.col(a[1:]) != F.col(b[1:]))
    out = out.select(*sorted(cols))
    return out.distinct() if distinct else out


def transitive_reduction(
    edges: DataFrame,
    subj_col: str = "src",
    obj_col: str = "dst",
    max_rounds: int = 64,
    square: bool = False,
) -> DataFrame:
    """Transitive reduction of a DAG -> the minimal edge set with the
    same reachability (Aho, Garey & Ullman 1972): drop every edge
    (u, v) for which a length->=2 path u ~> v exists.  The dependency-
    graph simplifier — after SCC condensation, the reduced DAG is the
    set of TRUE direct prerequisites a build scheduler or impact
    analysis should display (every kept edge is irredundant).

    Computation: ``closure = E+`` (the semi-naive ``_closure`` loop,
    compacted checkpoints), ``two_plus = E JOIN closure`` (paths with
    >= 2 hops: one edge then any path), and the reduction is ``E
    LEFT ANTI two_plus`` — three declarative ops, nothing quadratic.
    On a CYCLIC input the u ~> v test would delete whole cycles
    (reachability ties), so cycles are REJECTED: any (u, u) row in the
    closure raises — condense SCCs first (graph.condensation), which
    is also the semantically meaningful reduction for cyclic graphs.
    """
    e = (
        edges.select(
            F.col(subj_col).alias("src"), F.col(obj_col).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    closure = _closure(e, max_rounds, square).persist()
    try:
        if not closure.filter(F.col("src") == F.col("dst")).isEmpty():
            raise ValueError(
                "transitive_reduction requires a DAG (a cycle was "
                "found); condense SCCs first (graph.condensation)"
            )
        two_plus = (
            e.alias("a")
            .join(
                closure.alias("c"),
                F.col("a.dst") == F.col("c.src"),
            )
            .select(
                F.col("a.src").alias("src"), F.col("c.dst").alias("dst")
            )
            .distinct()
        )
        return e.join(two_plus, ["src", "dst"], "left_anti")
    finally:
        closure.unpersist()
