"""Datalog-style rule inference over KG triple tables (semi-naive).

The KG the pipeline materializes is DELIBERATELY minimal — the kernel
emits only directly-evidenced triples ((repo, CONTAINS, file),
(file, DEFINES, sym), (sym, REFERENCES, sym), ...). Derived knowledge
("file USES symbol", "file DEPENDS_ON file", "symbol transitively
reachable") is a RULE layer, and computing it at write time per
consumer query wastes the shared structure: a Datalog program computes
the whole derived closure once, incrementally, and the result is just
another triple table every downstream operator (match_pattern,
graph.py analytics, N-Triples export) consumes unchanged.

:func:`infer` evaluates a positive Datalog program (no negation, set
semantics) with SEMI-NAIVE fixpoint iteration — the textbook delta
rewrite (Abiteboul/Hull/Vianu ch. 13; see PAPERS.md Datalog entries):

* round 1 evaluates every rule over the base facts;
* round k evaluates, per rule, one variant per body atom with THAT
  atom restricted to the previous round's delta and the others to the
  full fact set — a new fact needs at least one new supporting fact,
  so joining full x full every round (naive evaluation) is never paid;
* every variant is a greedy-connected tree of equi-joins compiled by
  the same slice machinery as :mod:`graph_query` (constants push to
  the scan, Catalyst owns the physical strategy);
* the loop itself is :func:`pawpaw_spark.session.semi_naive`: new
  facts are deduped against the accumulated set with one anti-join
  (set semantics), checkpoint-truncated per round, and the loop runs
  under ``fixpoint_loop_conf`` — shuffle width sized to the DELTA, AQE
  off inside the loop (the iterative-graph discipline; the deltas are
  uniform and metadata-sized next to the corpus scan that produced the
  base edges);
* each stratum is refined into the SCCs of its positive dependency
  graph, evaluated in topological order (:func:`_positive_substrata`),
  and delta variants are generated ONLY at body atoms that can match
  the running SCC's own derived facts (:func:`_recursive_atoms`) — the
  standard evaluation refinement: a non-recursive consumer of a
  closure evaluates in ONE pass after the closure converges instead of
  re-running every round, and a linear-recursive rule iterates one
  variant per round instead of one per body atom.

Scale shape: per round, per rule, per body atom — one join tree whose
smallest input is the delta (Catalyst broadcasts it when it fits) and
one anti-join against the accumulated facts, all equi-joins on node
ids. Rounds to convergence = the derivation depth of the program
(linear-recursive closure over a depth-d graph: d rounds; rule chains:
chain length). No driver-side data: the only actions are the per-round
``isEmpty`` on a checkpointed delta.

Reference parity: none — the reference stops at emitting triples (its
query layer, ``/root/reference/pawpaw/query/_query.py``, is a
per-document axis language). This is the beyond-parity KG-consumer
surface, the deductive twin of graph_query's conjunctive matcher.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pawpaw_spark.operators.graph_query import (
    Triple,
    _is_path,
    _is_var,
    _order_triples,
    _slice,
    _vars_of,
)

# (head, body) or (head, body, negated_body) — the third element lists
# atoms the body must NOT match (stratified negation)
Rule = tuple[Triple, Sequence[Triple]]
NormRule = tuple[Triple, list[Triple], list[Triple]]


def _normalize_rules(rules: Sequence[Rule]) -> list[NormRule]:
    if not rules:
        raise ValueError("rules must contain at least one rule")
    out: list[NormRule] = []
    for rule in rules:
        if len(rule) == 2:
            head, body = rule
            neg: Sequence[Triple] = ()
        elif len(rule) == 3:
            head, body, neg = rule
        else:
            raise ValueError(
                f"a rule is (head, body) or (head, body, neg_body): {rule!r}"
            )
        hs, hp, ho = head
        if _is_var(hp) or hp is None or _is_path(hp):
            raise ValueError(
                f"head predicate must be a constant name, got {hp!r}"
            )
        if not body:
            raise ValueError(
                f"rule for {hp!r} has an empty positive body (negation "
                "needs positive atoms to bind against)"
            )
        body_vars: set[str] = set()
        for atom in body:
            s, p, o = atom
            if _is_var(p):
                raise ValueError(
                    f"body predicate variables are not supported: {atom}"
                )
            if _is_path(p):
                raise ValueError(
                    f"path predicates belong in match_pattern, not rule "
                    f"bodies (a '+' closure IS a recursive rule): {atom}"
                )
            body_vars |= _vars_of(atom)
        for atom in neg:
            s, p, o = atom
            if _is_var(p) or _is_path(p):
                raise ValueError(
                    f"negated predicates must be constant names or None: "
                    f"{atom}"
                )
            if not _vars_of(atom) & body_vars:
                raise ValueError(
                    f"negated atom {atom} shares no variable with the "
                    "positive body — an uncorrelated NOT EXISTS; filter "
                    "the base facts directly instead"
                )
        head_vars = {x[1:] for x in (hs, ho) if _is_var(x)}
        missing = head_vars - body_vars
        if missing:
            raise ValueError(
                f"head variable(s) {sorted(missing)} not bound by the "
                f"positive body of rule {head} :- {list(body)} "
                "(range restriction)"
            )
        out.append((head, list(body), list(neg)))
    return out


def _positive_substrata(
    rules: Sequence[NormRule],
) -> list[list[NormRule]]:
    """Refine one (negation) stratum into sub-strata by the SCCs of its
    POSITIVE head-dependency graph, in topological order — the standard
    Datalog evaluation refinement: a rule only needs fixpoint iteration
    with the rules it is mutually recursive with; everything else
    evaluates in one pass once its dependencies are complete. This is
    what stops a non-recursive consumer (LEAF_UNDER reading the UNDER
    closure) from being re-evaluated every round of the closure it
    merely reads. A ``None`` wildcard atom depends on every head
    (conservative, same doctrine as :func:`_stratify`)."""
    heads = {head[1] for head, _, _ in rules}

    def deps_of(h: str) -> set[str]:
        got: set[str] = set()
        for head, body, _neg in rules:
            if head[1] != h:
                continue
            for _, p, _ in body:
                if p is None:
                    got |= heads
                elif p in heads:
                    got.add(p)
        return got

    # iterative Tarjan is overkill at vocabulary size: Kosaraju via
    # reachability sets (|heads| is the number of derived predicates)
    reach = {h: deps_of(h) for h in heads}
    for _ in range(len(heads)):
        changed = False
        for h in heads:
            new = set().union(*(reach[d] for d in reach[h])) if reach[h] else set()
            if not new <= reach[h]:
                reach[h] |= new
                changed = True
        if not changed:
            break
    scc_key = {
        h: frozenset(
            {h} | {g for g in heads if g in reach[h] and h in reach[g]}
        )
        for h in heads
    }
    # topological order of SCCs: count strictly-lower dependencies
    sccs = sorted(set(scc_key.values()), key=lambda s: sorted(s))
    order: list[frozenset] = []
    placed: set[frozenset] = set()
    while len(order) < len(sccs):
        progressed = False
        for s in sccs:
            if s in placed:
                continue
            lower = set().union(*(reach[h] for h in s)) - s
            if all(scc_key[d] in placed for d in lower):
                order.append(s)
                placed.add(s)
                progressed = True
        assert progressed, "cyclic SCC order (unreachable by construction)"
    return [
        [r for r in rules if r[0][1] in s]
        for s in order
    ]


def _recursive_atoms(rule: NormRule, scc_heads: set) -> list[int]:
    """Body-atom positions that can match facts derived IN THIS
    sub-stratum's fixpoint (its own SCC heads, or a None wildcard) —
    the only positions semi-naive delta variants are needed at: every
    other atom reads relations that are frozen for the whole loop."""
    _head, body, _neg = rule
    return [
        i
        for i, (_, p, _) in enumerate(body)
        if p is None or p in scc_heads
    ]


def _stratify(rules: Sequence[NormRule]) -> list[list[NormRule]]:
    """Assign each derived predicate a stratum: a rule's positive
    derived dependencies may share its head's stratum, its NEGATED
    derived dependencies must be fully computed in a strictly earlier
    one. The least fixpoint of those constraints exists iff no cycle
    of the dependency graph contains a negative edge (the standard
    stratifiability condition); non-stratifiable programs raise. A
    ``None`` wildcard depends on EVERY derived predicate
    (conservative: the wildcard matches derived facts too)."""
    heads = {head[1] for head, _, _ in rules}

    def deps(atoms: Sequence[Triple]) -> set[str]:
        got: set[str] = set()
        for _, p, _ in atoms:
            if p is None:
                got |= heads
            elif p in heads:
                got.add(p)
        return got

    stratum = {h: 0 for h in heads}
    for _ in range(len(heads) + 1):
        changed = False
        for head, body, neg in rules:
            h = head[1]
            want = max(
                [stratum[p] for p in deps(body)]
                + [stratum[p] + 1 for p in deps(neg)]
                + [stratum[h]]
            )
            if want > stratum[h]:
                stratum[h] = want
                changed = True
        if not changed:
            break
    else:
        bad = sorted(h for h in heads if stratum[h] > len(heads))
        raise ValueError(
            "program is not stratifiable (a recursive cycle passes "
            f"through negation); offending predicate(s): {bad or sorted(heads)}"
        )
    n_strata = max(stratum.values()) + 1
    return [
        [r for r in rules if stratum[r[0][1]] == s]
        for s in range(n_strata)
    ]


def _eval_body(
    sources: list[DataFrame],
    body: list[Triple],
    allow_product: bool,
) -> DataFrame:
    """Join the body atoms greedy-connected, each atom sliced from its
    OWN source table (full facts or the round's delta) -> one column
    per body variable. The ordering runs over the atom list, then the
    per-atom sources follow the atoms through the permutation."""
    idx = {id(t): i for i, t in enumerate(body)}
    ordered = _order_triples(body, allow_product)
    out = None
    bound: set[str] = set()
    for t in ordered:
        src = sources[idx[id(t)]]
        sl = _slice(src, t, "subj", "pred", "obj")
        if out is None:
            out = sl
        else:
            shared = sorted(bound & _vars_of(t))
            out = out.join(sl, on=shared, how="inner") if shared else (
                out.crossJoin(sl)
            )
        bound |= _vars_of(t)
    return out


def _apply_neg(
    bindings: DataFrame, neg: Sequence[Triple], frozen: DataFrame
) -> DataFrame:
    """Filter body bindings by the rule's negated atoms: one LEFT ANTI
    join per atom against its slice of the FROZEN fact set (base +
    strictly-lower strata — stratification guarantees the negated
    relations are complete before this rule ever runs). Variables
    private to a negated atom are existentials the anti-join projects
    away; constants filter inside the slice."""
    for atom in neg:
        sl = _slice(frozen, atom, "subj", "pred", "obj")
        shared = sorted(set(bindings.columns) & set(sl.columns))
        bindings = bindings.join(
            sl.select(*shared), on=shared, how="left_anti"
        )
    return bindings


def _project_head(bindings: DataFrame, head: Triple) -> DataFrame:
    hs, hp, ho = head
    s = F.col(hs[1:]) if _is_var(hs) else F.lit(hs)
    o = F.col(ho[1:]) if _is_var(ho) else F.lit(ho)
    return bindings.select(
        s.cast("string").alias("subj"),
        F.lit(hp).alias("pred"),
        o.cast("string").alias("obj"),
    ).distinct()


def _variants(
    rec: list[tuple[NormRule, Sequence[int]]],
    delta: DataFrame,
    facts: DataFrame,
    frozen: DataFrame,
    allow_product: bool,
) -> DataFrame | None:
    """One semi-naive round's candidate facts: per rule, one variant
    per listed body position with THAT atom read from the delta and
    the rest from the full facts; negated atoms always probe the
    ``frozen`` set. ``None`` when no position is listed (nothing can
    fire)."""
    out = None
    for (head, body, neg), positions in rec:
        for i in positions:
            sources = [delta if j == i else facts for j in range(len(body))]
            b = _eval_body(sources, body, allow_product)
            derived = _project_head(_apply_neg(b, neg, frozen), head)
            out = derived if out is None else out.union(derived)
    return out


def infer(
    edges: DataFrame,
    rules: Sequence[Rule],
    *,
    max_rounds: int = 64,
    include_base: bool = False,
    allow_product: bool = False,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Evaluate a positive Datalog program to fixpoint -> the DERIVED
    (subj, pred, obj) facts (set semantics; ``include_base=True``
    unions the base facts back in for a closed triple table).

    A rule is ``(head, body)``: the head a triple whose predicate is a
    constant (the derived relation) and whose endpoints are variables
    bound by the body or constants; the body a list of pattern triples
    in :func:`graph_query.match_pattern` syntax (``?x`` variables,
    constants, ``None`` any-predicate wildcards). Rules may chain
    (a derived predicate in another rule's body) and recurse (its own
    rule's body); recursion converges because evaluation is on SETS —
    the classic transitive closure is::

        (("?x", "TC", "?y"), [("?x", "E", "?y")]),
        (("?x", "TC", "?z"), [("?x", "TC", "?y"), ("?y", "E", "?z")]),

    A rule may carry a THIRD element — negated body atoms (STRATIFIED
    negation)::

        # ancestors that are not the direct parent
        (("?c", "SKIP", "?a"),
         [("?c", "UNDER", "?a")],          # positive body
         [("?c", "CHILD_OF", "?a")])       # must NOT match

    A binding of the positive body survives iff no negated atom
    matches it (one anti-join per atom; atom-private variables are
    existentials). Negation is evaluated against the facts of strictly
    LOWER strata: the program is stratified on its predicate
    dependency graph (positive edges may stay in-stratum, negative
    edges must cross strata upward), strata run in order, and a
    recursive cycle through negation raises ``not stratifiable`` —
    the unique standard (perfect-model) semantics. Every variable of
    a negated atom that also appears positively is a join key; a
    negated atom sharing NO variable with the positive body raises
    (uncorrelated NOT EXISTS — filter the base facts directly).

    ``max_rounds`` bounds the fixpoint PER STRATUM; non-convergence
    raises (the canon.py discipline — a silent truncation would be a
    wrong answer). Rounds needed = the program's derivation depth,
    e.g. graph depth for a linear-recursive closure.
    """
    normed = _normalize_rules(rules)
    strata = _stratify(normed)
    from pawpaw_spark.session import (
        fixpoint_loop_conf,
        semi_naive,
        truncated_checkpoint,
    )

    key = ["subj", "pred", "obj"]
    base = (
        edges.select(
            F.col(subj_col).cast("string").alias("subj"),
            F.col(pred_col).cast("string").alias("pred"),
            F.col(obj_col).cast("string").alias("obj"),
        )
        .distinct()
        .persist()
    )
    spark = edges.sparkSession
    try:
        n_base = base.count()  # materializes the cache; sizes the loop
        with fixpoint_loop_conf(spark, approx_state_rows=n_base):
            frozen = base  # base + every COMPLETED (sub-)stratum's facts
            derived_acc: DataFrame | None = None
            for bodies in strata:
                for sub in _positive_substrata(bodies):
                    scc_heads = {head[1] for head, _, _ in sub}
                    rec = [
                        (rule, _recursive_atoms(rule, scc_heads))
                        for rule in sub
                    ]
                    rec = [(r, pos) for r, pos in rec if pos]
                    # round 1: naive evaluation, every atom over the
                    # frozen facts (one variant per rule, delta = facts)
                    first = _variants(
                        [(rule, [0]) for rule in sub],
                        frozen, frozen, frozen, allow_product,
                    )
                    delta = truncated_checkpoint(
                        first.distinct().join(frozen, key, "left_anti")
                    )
                    facts, acc_s = frozen.union(delta), delta
                    # no rule in this SCC consuming its own output: one
                    # naive pass IS the fixpoint. Otherwise one variant
                    # per RECURSIVE body atom: atoms over base/lower
                    # relations are frozen for the whole loop, so a
                    # delta variant there could never match (the delta
                    # holds only this SCC's derived predicates)
                    if rec and not delta.isEmpty():
                        facts, acc_s = semi_naive(
                            facts, delta,
                            lambda d, f, _r: _variants(
                                rec, d, f, frozen, allow_product
                            ),
                            key, max_rounds, "Datalog fixpoint",
                            "per stratum; rounds needed = derivation depth",
                            start=1,
                        )
                    frozen = facts
                    derived_acc = (
                        acc_s
                        if derived_acc is None
                        else derived_acc.union(acc_s)
                    )
            assert derived_acc is not None  # strata is non-empty
            return base.union(derived_acc) if include_base else derived_acc
    finally:
        base.unpersist()


def infer_delta(
    base: DataFrame,
    derived: DataFrame,
    delta_base: DataFrame,
    rules: Sequence[Rule],
    *,
    max_rounds: int = 64,
    allow_product: bool = False,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Incremental Datalog maintenance for FACT ADDITIONS: given the
    old base facts, their already-computed derived closure (what
    :func:`infer` returned — in production, read back from the edge
    store), and a batch of NEW base facts, return ONLY the newly
    derivable facts, so that::

        infer(base ∪ delta_base, rules)
          == derived ∪ infer_delta(base, derived, delta_base, rules)

    This is the semi-naive CONTINUATION: the loop starts with the new
    facts as the delta and (base ∪ derived ∪ delta) as the fact set —
    every genuinely new derivation needs at least one new supporting
    fact, so the old closure is never re-derived (the day-2 ingest
    twin of triples.edge_diff / canon.incremental_components: cost
    scales with the CHANGE's derivation cone, not the corpus).

    Positive programs only: under negation, additions can RETRACT
    derived facts (non-monotone), which needs DRed/counting-style
    maintenance — rules with a negated body raise, and full
    :func:`infer` re-evaluation is the correct fallback there.
    """
    normed = _normalize_rules(rules)
    if any(neg for _, _, neg in normed):
        raise ValueError(
            "infer_delta maintains ADDITIONS for positive programs "
            "only: negation makes additions non-monotone (a new base "
            "fact can retract derived facts); re-run infer() instead"
        )
    from pawpaw_spark.session import (
        fixpoint_loop_conf,
        semi_naive,
        truncated_checkpoint,
    )

    key = ["subj", "pred", "obj"]

    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(subj_col).cast("string").alias("subj"),
            F.col(pred_col).cast("string").alias("pred"),
            F.col(obj_col).cast("string").alias("obj"),
        )

    # round 1's delta is the seeded BASE facts, so every body atom can
    # match it; from round 2 the delta holds only DERIVED facts (rule
    # heads), so variants are needed only at atoms over derived
    # predicates or wildcards — infer()'s _recursive_atoms pruning,
    # shifted one round. A program with no such atom is done after
    # round 1 (the step returns None)
    heads = {head[1] for head, _, _ in normed}
    every = [(rule, range(len(rule[1]))) for rule in normed]
    pruned = [(rule, _recursive_atoms(rule, heads)) for rule in normed]
    pruned = [(rule, pos) for rule, pos in pruned if pos]

    old = canon(base).union(canon(derived)).distinct().persist()
    spark = base.sparkSession
    try:
        n_old = old.count()  # materializes the cache; sizes the loop
        with fixpoint_loop_conf(spark, approx_state_rows=n_old):
            added = canon(delta_base).distinct()
            delta = truncated_checkpoint(added.join(old, key, "left_anti"))
            if delta.isEmpty():
                return delta
            _, new = semi_naive(
                old.union(delta), delta,
                lambda d, f, r: _variants(
                    pruned if r else every, d, f, f, allow_product
                ),
                key, max_rounds, "incremental fixpoint",
                "rounds needed = the delta's derivation depth",
            )
            # the seeded delta_base rows are base facts, not derived
            # ones: report only genuinely derived adds
            return new.join(added, key, "left_anti")
    finally:
        old.unpersist()
