"""Declarative segmentation rules.

A ``RuleSet`` is the Spark-first replacement for pawpaw's arborform
pipeline graph (reference: ``pawpaw/arborform/itorator/*.py``): instead
of an object graph of Itorators wired by Connectors, rules are plain,
picklable data rows. The whole rule set is captured once into the
segmentation UDF closure (broadcast to executors with the task) and
interpreted per document by :mod:`pawpaw_spark.kernel`.

Semantics parity map (reference file:line cites are behavior specs, not
copied code):

* ``extract``  ~ ``Extract`` itorator (``arborform/itorator/extract.py:11-35``):
  regex ``finditer`` over a target segment; each match becomes a tree of
  named-capture-group segments nested by span containment
  (``ito.py:98-129`` sort by ``(start, -stop)`` + containment stack).
* ``split``    ~ ``Split`` itorator (``arborform/itorator/split.py:105-156``)
  with P-O-O-S boundary retention (NONE/LEADING/TRAILING/ALL) and
  ``return_zero_split``.
* ``gaps``     ~ ``Invert`` itorator / ``Ito.from_gaps`` (``ito.py:196-269``):
  complement spans of the pattern's matches.
* ``literal``  ~ ``Ito.from_substrings`` (``ito.py:271-314``).

``on`` selects the target segments a rule applies to, mirroring
connector predicates (``arborform/itorator/itorator.py:11-24``):
``ROOT`` (the whole document), a desc string, a tuple of descs, or
``"*"`` for every segment present when the rule runs. Children produced
by a rule attach under the target segment (``Connectors.Children.Add``
semantics, ``itorator.py:49-70``).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field

ROOT = "$doc"  # desc of the implicit per-document root segment


class BoundaryRetention(enum.Enum):
    # P-O-O-S semantics, reference split.py:14-18 & docstring
    NONE = "none"
    LEADING = "leading"
    TRAILING = "trailing"
    ALL = "all"


class _KernelCached:
    """Pickles without ``_kernel``, the compiled form
    :mod:`pawpaw_spark.kernel` caches on the instance: it is rebuilt in
    whichever process runs the rules, never shipped."""

    def __getstate__(self):
        return {k: v for k, v in self.__dict__.items() if k != "_kernel"}


@dataclass(frozen=True)
class Rule(_KernelCached):
    kind: str                       # 'extract' | 'split' | 'gaps' | 'literal' | 'custom'
    tag: str                        # rule_tag stamped on emitted segments
    pattern: str                    # regex source (or substring for 'literal')
    on: str | tuple[str, ...] = ROOT
    desc: object | None = None      # fixed str desc; None => group key (extract);
                                    # extract also accepts a callable f(match, group_key) -> str
                                    # (the reference's desc_func, ``extract.py:16``) — must be
                                    # picklable (module-level def)
    group_filter: tuple[str, ...] | None = None  # extract: named groups to keep; None => all named groups ('0' excluded)
    limit: int | None = None
    retention: BoundaryRetention = BoundaryRetention.NONE
    return_zero_split: bool = True
    return_zero_widths: bool = False  # gaps: emit zero-width segments between adjacent matches
    flags: int = 0                  # extra regex flags OR'd at compile time
    # descs for which the segment's text is materialized into the `value`
    # column at emit time — the `value_func` equivalent (``ito.py:383-399``).
    # Saves a segments⋈source content re-join downstream; use for short
    # segments only (symbol names, not blocks).
    value_for: tuple[str, ...] = ()
    # custom only: user transform (text, start, stop) -> iterable of
    # (start, stop, desc) child spans — the ``Itorator.wrap`` UDTF
    # surface (``arborform/itorator/itorator.py:85-90``). Ships in the
    # UDF closure like every other rule field; must be picklable and
    # must return spans within [start, stop).
    fn: object | None = None
    # extract only: restrict matching to the sub-ranges of the target NOT
    # covered by segments a prior rule (identified by its tag) attached to
    # the same target. Expresses the reference's Delegate-on-None-part
    # idiom (SimpleNlp words extracted only outside Number matches,
    # ``pawpaw/nlp/nlp.py:489-494``) without materializing the gap parts.
    within_gaps_of: str | None = None

    def targets(self, desc: str | None) -> bool:
        if self.on == "*":
            return True
        if isinstance(self.on, tuple):
            return desc in self.on
        return desc == self.on


def extract(
    pattern: str,
    on: str | tuple[str, ...] = ROOT,
    group_filter: tuple[str, ...] | None = None,
    desc: str | None = None,
    limit: int | None = None,
    tag: str | None = None,
    flags: int = 0,
    value_for: tuple[str, ...] = (),
    within_gaps_of: str | None = None,
) -> Rule:
    return Rule(
        kind="extract", tag=tag or f"extract:{pattern[:24]}", pattern=pattern, on=on,
        desc=desc, group_filter=group_filter, limit=limit, flags=flags,
        value_for=value_for, within_gaps_of=within_gaps_of,
    )


def split(
    pattern: str,
    on: str | tuple[str, ...] = ROOT,
    desc: str | None = None,
    retention: BoundaryRetention = BoundaryRetention.NONE,
    limit: int | None = None,
    return_zero_split: bool = True,
    tag: str | None = None,
    flags: int = 0,
) -> Rule:
    return Rule(
        kind="split", tag=tag or f"split:{pattern[:24]}", pattern=pattern, on=on,
        desc=desc, limit=limit, retention=retention,
        return_zero_split=return_zero_split, flags=flags,
    )


def gaps(
    pattern: str,
    on: str | tuple[str, ...] = ROOT,
    desc: str | None = None,
    return_zero_widths: bool = False,
    tag: str | None = None,
    flags: int = 0,
) -> Rule:
    return Rule(
        kind="gaps", tag=tag or f"gaps:{pattern[:24]}", pattern=pattern, on=on,
        desc=desc, return_zero_widths=return_zero_widths, flags=flags,
    )


def custom(
    fn,
    on: str | tuple[str, ...] = ROOT,
    tag: str | None = None,
) -> Rule:
    """User segmentation transform: ``fn(text, start, stop)`` yields
    ``(start, stop, desc)`` spans (absolute offsets, nested by
    containment like extract output)."""
    return Rule(kind="custom", tag=tag or f"custom:{getattr(fn, '__name__', 'fn')}",
                pattern="", on=on, fn=fn)


def literal(
    *substrings: str,
    on: str | tuple[str, ...] = ROOT,
    desc: str | None = None,
    tag: str | None = None,
) -> Rule:
    """``Ito.from_substrings`` rule (``ito.py:271-314``).

    One substring: every non-overlapping occurrence becomes a segment
    (the corpus-rule generalization). Multiple substrings: the
    reference's sequential form — each is located left-to-right after
    the previous one's end, one segment per listed substring (repeat a
    substring in the list to capture it twice); locating stops at the
    first substring not found (the rule-form analog of the ValueError
    the reference raises)."""
    if not substrings:
        raise ValueError("literal() requires at least one substring")
    if any("\x00" in s for s in substrings):
        # NUL is the internal pack separator for the sequential form; a
        # substring containing it would silently split into multiple
        # locate steps and change the rule's semantics.
        raise ValueError("literal() substrings cannot contain NUL ('\\x00')")
    if len(substrings) == 1:
        return Rule(
            kind="literal", tag=tag or f"literal:{substrings[0][:24]}",
            pattern=substrings[0], on=on, desc=desc,
        )
    return Rule(
        kind="literal_seq", tag=tag or f"literal:{substrings[0][:20]}+",
        pattern="\x00".join(substrings), on=on, desc=desc,
    )


@dataclass(frozen=True)
class RuleSet(_KernelCached):
    """An ordered rule program. Rules run in order; each applies to the
    segments present at that point whose desc matches ``on``."""

    rules: tuple[Rule, ...] = field(default_factory=tuple)
    name: str = "ruleset"

    def __iter__(self):
        return iter(self.rules)

    def then(self, *rules: Rule) -> "RuleSet":
        return RuleSet(self.rules + tuple(rules), self.name)

    @staticmethod
    def of(*rules: Rule, name: str = "ruleset") -> "RuleSet":
        return RuleSet(tuple(rules), name)
