"""Structural properties of ``segment_text`` over random text (hypothesis).

No reference implementation needed: every record must describe a tree
that is well formed on its own terms. For every named RuleSet plus two
programs whose matches carry several captures (nested and repeated
groups), each segment lies inside its parent, its parent comes before
it, its depth is one more than its parent's, and the output is
deterministic, including for a freshly unpickled RuleSet. Together
these cover both the one-capture fast path and the sort + containment
path of the extract rule.
"""

import pickle

import pytest
from hypothesis import given, settings, strategies as st

from pawpaw_spark import rulesets
from pawpaw_spark.kernel import segment_text
from pawpaw_spark.rules import ROOT, RuleSet, extract

PROGRAMS = {
    name: getattr(rulesets, name)
    for name in ("CODE_RULES", "TEXT_RULES", "CANONICAL_RULES", "CONSTITUTION_RULES",
                 "XML_RULES", "MARKDOWN_RULES")
}
PROGRAMS["repeated_in_named"] = RuleSet.of(
    extract(r"(?P<w>(?P<c>\w)+)|(?P<n>\d)+", tag="rep"),
    extract(r"(?P<pair>(?P<a>\w)(?P<b>\w))", on="w", limit=2, tag="pair"),
)

# fragments of every input shape the named programs parse: code, prose,
# markup, digits, blank lines, and a non-ASCII char
TOKENS = [
    "def ", "class ", "import ", "f", "xy", "(", ")", ":", "\n", "    ", "\n\n",
    ". ", "Ab", "cd", "9", "42", "<a>", "</a>", '<b k="v"/>', "# ", "- ", "```",
    "Article I. ", "Section 2. ", "é", "_",
]
TEXT = st.lists(st.sampled_from(TOKENS), max_size=40).map("".join)

SETTINGS = dict(max_examples=120, deadline=None, derandomize=True)


def _check_tree(text, segs):
    assert segs[0] == (0, len(text), ROOT, -1, 0, "$root")
    for idx in range(1, len(segs)):
        start, stop, _desc, parent, depth, _tag = segs[idx]
        assert 0 <= parent < idx, (idx, segs[idx])
        p_start, p_stop, _, _, p_depth, _ = segs[parent]
        assert p_start <= start <= stop <= p_stop, (segs[parent], segs[idx])
        assert depth == p_depth + 1, (segs[parent], segs[idx])


@pytest.mark.parametrize("name", sorted(PROGRAMS))
@given(text=TEXT)
@settings(**SETTINGS)
def test_segments_nest_inside_their_parents(name, text):
    _check_tree(text, segment_text(text, PROGRAMS[name]))


@pytest.mark.parametrize("name", sorted(PROGRAMS))
@given(text=TEXT)
@settings(**SETTINGS)
def test_deterministic_and_independent_of_cached_programs(name, text):
    rules = PROGRAMS[name]
    first = segment_text(text, rules)
    assert segment_text(text, rules) == first
    assert segment_text(text, pickle.loads(pickle.dumps(rules))) == first
    assert segment_text(text, list(rules)) == first
