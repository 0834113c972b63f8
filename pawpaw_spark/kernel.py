"""Per-document segmentation kernel.

Runs inside executors over Arrow batches (see
:mod:`pawpaw_spark.operators.segment`). Interprets a
:class:`pawpaw_spark.rules.RuleSet` against one document string and
returns flat segment records — the tree exists only transiently here;
it is exploded to rows immediately (offsets only, never substrings).

Behavioral parity targets (reference = rlayers/pawpaw, cites are spec
references, the code here is written from the spec):

* match-tree build: enumerate (span, group_key) for selected capture
  groups, sort by ``(start, -stop)``, single containment-stack pass
  (``pawpaw/ito.py:98-129``).
* split boundary retention P-O-O-S (``pawpaw/arborform/itorator/split.py:105-156``).
* gap complement incl. zero-width handling (``pawpaw/ito.py:196-269``).
* literal substring scan (``pawpaw/ito.py:271-314``).

The ``regex`` module is the engine (the reference's engine too): its
``pos``/``endpos`` keep matching zero-copy, the invariant of the
reference, and ``Match.allspans`` returns every repeated capture of
every group in one call.

Each rule is compiled once per rule object into a :class:`_Program`
(pattern, selected groups with their descs, target test) and cached on
the rule; a RuleSet caches its programs and ``value_for`` descs the same
way. Per document, the kernel only matches and appends.
"""

from __future__ import annotations

from typing import Iterable

import regex

from pawpaw_spark.rules import ROOT, BoundaryRetention, Rule, RuleSet

# (start, stop, desc, parent_idx, depth, rule_tag) — parent_idx is the
# list index of the parent segment; root has parent_idx -1.
SegRecord = tuple[int, int, str | None, int, int, str]

# shared by every rule object in the process: Spark unpickles a UDF's
# rules per task, so the per-rule cache alone would recompile per task
_PATTERN_CACHE: dict[tuple[str, int], regex.Pattern] = {}


def _compiled(pattern: str, flags: int) -> regex.Pattern:
    key = (pattern, flags)
    rx = _PATTERN_CACHE.get(key)
    if rx is None:
        rx = _PATTERN_CACHE[key] = regex.compile(pattern, flags)
    return rx


class _Program:
    """One rule, compiled for interpretation.

    ``on`` is None for ``"*"``, else the set of target descs. For
    extract, ``groups`` holds ``(group index, group key, desc)`` per
    selected capture group and ``desc_fn`` the callable desc, if any.
    """

    __slots__ = ("rule", "apply", "on", "rx", "groups", "desc_fn")

    def __init__(self, rule: Rule):
        self.rule = rule
        on = rule.on
        self.on = None if on == "*" else frozenset(on if isinstance(on, tuple) else (on,))
        self.rx = None
        self.groups = ()
        self.desc_fn = None
        if rule.kind in ("extract", "split", "gaps"):
            self.rx = _compiled(rule.pattern, rule.flags)
        if rule.kind == "extract":
            self.groups = _extract_groups(self.rx, rule)
            self.desc_fn = rule.desc if callable(rule.desc) else None
        if rule.kind == "extract" and rule.within_gaps_of is not None:
            self.apply = _apply_extract_in_gaps
        else:
            self.apply = _APPLY[rule.kind]


def _extract_groups(rx: regex.Pattern, rule: Rule) -> tuple[tuple[int, str | int, str | None], ...]:
    """``(group index, group key, desc)`` per selected capture group.

    Default selection is every capture group except group 0; named
    groups by name, unnamed by index (reference GroupKeys.preferred +
    Extract's default ``gk != '0'`` filter, ``pawpaw/ito.py:21-44`` /
    ``extract.py:17``). The desc is the rule's fixed desc, else the group
    key as a string; None when the desc is callable."""
    if rule.group_filter is not None:
        keys = list(rule.group_filter)
    else:
        index_to_name = {i: n for n, i in rx.groupindex.items()}
        keys = [index_to_name.get(i, i) for i in range(1, rx.groups + 1)]
    out = []
    for key in keys:
        g = rx.groupindex.get(key) if isinstance(key, str) else key
        if g is None or not 0 <= g <= rx.groups:
            raise IndexError(f"no such group: {key!r} in {rule.pattern!r}")
        if callable(rule.desc):
            desc = None
        else:
            desc = str(key) if rule.desc is None else rule.desc
        out.append((g, key, desc))
    return tuple(out)


def _program(rule: Rule) -> _Program:
    # frozen dataclass: cache through __dict__ (Rule.__getstate__ drops it)
    prog = rule.__dict__.get("_kernel")
    if prog is None:
        prog = rule.__dict__["_kernel"] = _Program(rule)
    return prog


def _ruleset_program(rules: RuleSet | Iterable[Rule]) -> tuple[tuple[_Program, ...], frozenset]:
    """(compiled rules, ``value_for`` descs), cached on a RuleSet."""
    if isinstance(rules, RuleSet):
        cached = rules.__dict__.get("_kernel")
        if cached is None:
            cached = rules.__dict__["_kernel"] = _ruleset_program(rules.rules)
        return cached
    progs = tuple(_program(r) for r in rules)
    return progs, frozenset(d for p in progs for d in p.rule.value_for)


def value_descs(rules: RuleSet | Iterable[Rule]) -> frozenset:
    """Descs whose text is materialized (``Rule.value_for``)."""
    return _ruleset_program(rules)[1]


def _build_match_tree(
    out: list[SegRecord],
    spans_keys: list[tuple[int, int, str]],
    parent_idx: int,
    parent_depth: int,
    rule_tag: str,
) -> int:
    """Sort by (start, -stop) then containment-stack; returns number of
    top-level (root) segments attached to parent."""
    spans_keys.sort(key=lambda v: (v[0], -v[1]))
    stack: list[int] = []  # indices into `out`
    n_roots = 0
    for start, stop, desc in spans_keys:
        while stack and (start < out[stack[-1]][0] or stop > out[stack[-1]][1]):
            stack.pop()
        if stack:
            p = stack[-1]
            depth = out[p][4] + 1
        else:
            p = parent_idx
            depth = parent_depth + 1
            n_roots += 1
        out.append((start, stop, desc, p, depth, rule_tag))
        stack.append(len(out) - 1)
    return n_roots


def _apply_extract(
    out: list[SegRecord], prog: _Program, text: str, t_idx: int,
    sub: tuple[int, int] | None = None,
) -> None:
    ts, te, _, _, t_depth, _ = out[t_idx]
    if sub is not None:
        ts, te = sub
    depth = t_depth + 1
    tag = prog.rule.tag
    limit = prog.rule.limit
    groups = prog.groups
    # callable desc: the reference's desc_func f(match, group_key) -> str
    # (extract.py:16)
    desc_fn = prog.desc_fn
    n_roots = 0
    for m in prog.rx.finditer(text, ts, te):
        spans = m.allspans()
        # a match with one capture (most matches) is its own tree; only
        # several captures need the sort + containment stack
        first = caps = None
        for g, key, desc in groups:
            for s0, s1 in spans[g]:
                cap = (s0, s1, desc if desc_fn is None else desc_fn(m, key))
                if first is None:
                    first = cap
                elif caps is None:
                    caps = [first, cap]
                else:
                    caps.append(cap)
        if caps is not None:
            n_roots += _build_match_tree(out, caps, t_idx, t_depth, tag)
        elif first is not None:
            out.append((*first, t_idx, depth, tag))
            n_roots += 1
        if limit is not None and n_roots >= limit:
            break


def _boundary_spans(prog: _Program, text: str, ts: int, te: int) -> list[tuple[int, int]]:
    return [m.span() for m in prog.rx.finditer(text, ts, te)]


def _apply_split(out: list[SegRecord], prog: _Program, text: str, t_idx: int) -> None:
    rule = prog.rule
    ts, te, _, _, t_depth, _ = out[t_idx]
    depth = t_depth + 1

    def emit(a: int, b: int, desc: str | None) -> None:
        out.append((a, b, desc, t_idx, depth, rule.tag))

    if rule.limit == 0 and rule.return_zero_split:
        emit(ts, te, rule.desc)
        return

    boundaries = _boundary_spans(prog, text, ts, te)
    if rule.limit is not None:
        boundaries = boundaries[: rule.limit]

    ret = rule.retention
    emitted = 0
    prior: tuple[int, int] | None = None
    for cur in boundaries:
        if prior is None:
            if ret is BoundaryRetention.LEADING:
                start = stop = 0
            else:
                start = ts
                stop = cur[1] if ret is BoundaryRetention.TRAILING else cur[0]
        else:
            if ret in (BoundaryRetention.NONE, BoundaryRetention.ALL):
                start, stop = prior[1], cur[0]
            elif ret is BoundaryRetention.LEADING:
                start, stop = prior[0], cur[0]
            else:  # TRAILING
                start, stop = prior[1], cur[1]
        if start != stop:
            emit(start, stop, rule.desc)
            emitted += 1
        if ret is BoundaryRetention.ALL and cur[0] < cur[1]:
            emit(cur[0], cur[1], None)
            emitted += 1
        prior = cur

    if prior is not None and ret is not BoundaryRetention.TRAILING:
        start = prior[0] if ret is BoundaryRetention.LEADING else prior[1]
        if start != te:
            emit(start, te, rule.desc)
            emitted += 1

    if prior is None and emitted == 0 and rule.return_zero_split:
        emit(ts, te, rule.desc)


def _apply_gaps(out: list[SegRecord], prog: _Program, text: str, t_idx: int) -> None:
    rule = prog.rule
    ts, te, _, _, t_depth, _ = out[t_idx]
    depth = t_depth + 1

    def emit(a: int, b: int) -> None:
        out.append((a, b, rule.desc, t_idx, depth, rule.tag))

    non_gaps = _boundary_spans(prog, text, ts, te)
    if not non_gaps:
        if ts < te:
            emit(ts, te)
        return
    last = non_gaps[0]
    if ts < last[0]:
        emit(ts, min(last[0], te))
    for cur in non_gaps[1:]:
        if last[1] >= te:
            break
        if cur[0] == last[1]:
            if rule.return_zero_widths:
                emit(last[1], cur[0])
        elif cur[0] >= te:
            break
        elif cur[0] > last[1]:
            emit(last[1], cur[0])
        last = cur
    if last[1] < te:
        emit(last[1], te)


def _apply_literal(out: list[SegRecord], prog: _Program, text: str, t_idx: int) -> None:
    rule = prog.rule
    ts, te, _, _, t_depth, _ = out[t_idx]
    i = ts
    while True:
        i = text.find(rule.pattern, i, te)
        if i < 0:
            break
        k = i + len(rule.pattern)
        out.append((i, k, rule.desc, t_idx, t_depth + 1, rule.tag))
        i = k


def _apply_custom(out: list[SegRecord], prog: _Program, text: str, t_idx: int) -> None:
    """User transform rule (Itorator.wrap surface): spans come back as
    (start, stop, desc) and are nested by the same sort+containment
    pass as extract trees. Spans are clamped to the target first; what
    is empty after clamping (incl. spans wholly outside it) is dropped."""
    ts, te, _, _, t_depth, _ = out[t_idx]
    spans_keys = []
    for s0, s1, desc in prog.rule.fn(text, ts, te):
        s0, s1 = max(ts, s0), min(te, s1)
        if s0 < s1:
            spans_keys.append((s0, s1, desc))
    _build_match_tree(out, spans_keys, t_idx, t_depth, prog.rule.tag)


def _apply_literal_seq(out: list[SegRecord], prog: _Program, text: str, t_idx: int) -> None:
    """Sequential multi-substring form of ``Ito.from_substrings``
    (``ito.py:271-314``): each substring located after the previous
    one's end; stops at the first not found. Substrings travel joined
    with NUL (cannot appear in a str rule pattern)."""
    rule = prog.rule
    ts, te, _, _, t_depth, _ = out[t_idx]
    i = ts
    for sub in rule.pattern.split("\x00"):
        i = text.find(sub, i, te)
        if i < 0:
            break
        k = i + len(sub)
        out.append((i, k, rule.desc, t_idx, t_depth + 1, rule.tag))
        i = k


_APPLY = {
    "extract": _apply_extract,
    "split": _apply_split,
    "gaps": _apply_gaps,
    "literal": _apply_literal,
    "literal_seq": _apply_literal_seq,
    "custom": _apply_custom,
}


def segment_text(text: str, rules: RuleSet | Iterable[Rule]) -> list[SegRecord]:
    """Interpret the rule program over one document.

    Returns the full segment list; index 0 is the implicit root
    ``(0, len(text), ROOT)``. ``parent_idx`` indexes into the returned
    list (== per-document seg_id).
    """
    out: list[SegRecord] = [(0, len(text), ROOT, -1, 0, "$root")]
    for prog in _ruleset_program(rules)[0]:
        on = prog.on
        # snapshot target indices BEFORE the rule runs (a rule never
        # applies to its own output)
        if on is None:
            targets = range(len(out))
        else:
            targets = [i for i, seg in enumerate(out) if seg[2] in on]
        apply = prog.apply
        for t in targets:
            apply(out, prog, text, t)
    return out


def _apply_extract_in_gaps(out: list[SegRecord], prog: _Program, text: str, t_idx: int) -> None:
    """Run the extract only on sub-ranges of the target not covered by a
    prior rule's direct children (``Rule.within_gaps_of``)."""
    ts, te = out[t_idx][0], out[t_idx][1]
    gap_tag = prog.rule.within_gaps_of
    covered = sorted((s[0], s[1]) for s in out if s[3] == t_idx and s[5] == gap_tag)
    pos = ts
    for cs, ce in covered:
        if cs > pos:
            _apply_extract(out, prog, text, t_idx, sub=(pos, min(cs, te)))
        pos = max(pos, ce)
    if pos < te:
        _apply_extract(out, prog, text, t_idx, sub=(pos, te))


def tree_indexes(segs: list[SegRecord]):
    """Navigation indexes computed from the in-UDF tree, so no shuffle
    is ever needed to answer ancestor/descendant/sibling queries:

    * ``path``        — ancestor seg_ids, root→parent (O(1) ancestor axis;
                        exploded once for the descendant equi-join)
    * ``n_children``  — leaf test for the ``***`` axis
    * ``sibling_idx`` — rank among siblings by (start, -stop)
    * ``dfs_idx``     — pre-order DFS position == document order
    """
    n = len(segs)
    children: list[list[int]] = [[] for _ in range(n)]
    for i in range(1, n):
        p = segs[i][3]
        if p >= 0:
            children[p].append(i)
    paths: list[list[int]] = [[] for _ in range(n)]
    sibling_idx = [0] * n
    dfs_idx = [0] * n
    order = 0
    stack = [0]
    # iterative pre-order; children in (start, -stop) order
    for p in range(n):
        children[p].sort(key=lambda i: (segs[i][0], -segs[i][1]))
        for rank, c in enumerate(children[p]):
            sibling_idx[c] = rank
    while stack:
        cur = stack.pop()
        dfs_idx[cur] = order
        order += 1
        for c in reversed(children[cur]):
            paths[c] = paths[cur] + [cur]
            stack.append(c)
    n_children = [len(c) for c in children]
    return paths, n_children, sibling_idx, dfs_idx


SEGMENT_COLUMNS = (
    "doc_id", "seg_id", "parent_id", "start", "stop", "desc", "depth",
    "rule_tag", "value", "path", "n_children", "sibling_idx", "dfs_idx",
)


def new_segment_columns() -> dict[str, list]:
    return {c: [] for c in SEGMENT_COLUMNS}


def append_segment_columns(
    cols: dict[str, list], doc_id: str, text: str, rules: RuleSet,
    include_root: bool = False,
) -> int:
    """Segment one doc, appending column-wise into ``cols``; returns the
    number of rows appended. Columnar accumulation (one append per
    column per row, batch-assembled into a single pandas frame) instead
    of per-row dicts — the per-record overhead is the hot path when a
    rule set emits one segment per word.

    ``value`` is materialized only for descs named in some rule's
    ``value_for`` (the ``value_func`` equivalent) — everything else
    stays offsets-only (zero-copy at rest).
    """
    segs = segment_text(text, rules)
    materialize = value_descs(rules)
    paths, n_children, sibling_idx, dfs_idx = tree_indexes(segs)
    lo = 0 if include_root else 1
    n = len(segs)
    if n <= lo:
        return 0
    k = n - lo
    cols["doc_id"].extend([doc_id] * k)
    cols["seg_id"].extend(range(lo, n))
    cols["path"].extend(paths[lo:])
    cols["n_children"].extend(n_children[lo:])
    cols["sibling_idx"].extend(sibling_idx[lo:])
    cols["dfs_idx"].extend(dfs_idx[lo:])
    c_parent = cols["parent_id"]; c_start = cols["start"]; c_stop = cols["stop"]
    c_desc = cols["desc"]; c_depth = cols["depth"]; c_tag = cols["rule_tag"]
    c_value = cols["value"]
    for i in range(lo, n):
        start, stop, desc, parent_idx, depth, rule_tag = segs[i]
        c_parent.append(parent_idx if parent_idx >= 0 else None)
        c_start.append(start)
        c_stop.append(stop)
        c_desc.append(desc)
        c_depth.append(depth)
        c_tag.append(rule_tag)
        c_value.append(text[start:stop] if desc in materialize else None)
    return k


def segment_records(doc_id: str, text: str, rules: RuleSet, include_root: bool = False):
    """Flat dict-rows for one doc — row-oriented convenience form used
    by tests and the in-process oracle; the Spark operator uses the
    columnar ``append_segment_columns`` path."""
    cols = new_segment_columns()
    k = append_segment_columns(cols, doc_id, text, rules, include_root)
    return [
        {c: cols[c][i] for c in SEGMENT_COLUMNS} for i in range(k)
    ]
