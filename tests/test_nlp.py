"""SimpleNlp parity: our NLP_RULES kernel output vs the reference's
SimpleNlp().from_text on identical texts — compared as
(start, stop, desc, parent_span) sets over the whole tree."""

import pytest

from pawpaw_spark.kernel import segment_text
from pawpaw_spark.nlp import NLP_RULES

from .conftest import reference_file

TEXTS = {
    "abbrs": "Dr. Smith met Gov. Jones. They talked. The end came fast.",
    "numbers": "Pi is 3.14159 and e is 2.71828. Avogadro is 6.022e23 or 6.022 x 10^ 23.",
    "thousands": "Revenue was 1,234,567.89 in 2023. Costs hit -987.",
    "paras": "First para sentence one. Sentence two!\n\nSecond para here? Yes.",
    "names": "Alice B. Carter wrote this. Then John R. Smith replied.",
    "numeric_abbr": "See p. 12 for details. Also ver. 2 shipped.",
    "us_gov": "The U.S. Government agreed. It was final.",
    "quotes": "He said 'stop.' Then left. “Why?” she asked.",
    "hyphens": "A well-known test-case appears. State-of-the-art results follow.",
    "ellipses": "It went on... Then it stopped. Done!",
    "single": "word",
    "empty": "",
}


def _ours(text):
    segs = segment_text(text, NLP_RULES)
    out = set()
    for start, stop, desc, parent, _depth, _tag in segs[1:]:
        p = segs[parent]
        parent_span = None if parent == 0 else (p[0], p[1])
        out.add((start, stop, desc, parent_span))
    return out


def _ref(pawpaw_ref, text):
    from pawpaw.nlp import SimpleNlp

    doc = SimpleNlp().from_text(text)
    out = set()

    def walk(ito, parent):
        parent_span = None if parent is doc else (parent.start, parent.stop)
        desc = {"Document": None, "paragraph": "paragraph", "sentence": "sentence"}.get(
            ito.desc, ito.desc
        )
        out.add((ito.start, ito.stop, desc, parent_span))
        for c in ito.children:
            walk(c, ito)

    for c in doc.children:
        walk(c, doc)
    return out


@pytest.mark.parametrize("name", sorted(TEXTS))
def test_tree_matches_reference(pawpaw_ref, name):
    text = TEXTS[name]
    assert _ours(text) == _ref(pawpaw_ref, text), name


def test_constitution_high_parity(pawpaw_ref):
    """Full demo corpus: require >= 99% span agreement (tiny divergences
    from regex-version-specific tie-breaks are tolerated, but the suite
    should catch real drift)."""
    with open(
        reference_file("docs/demos/us_constitution/us_constitution.txt"), encoding="utf-8"
    ) as f:
        text = f.read()
    got, exp = _ours(text), _ref(pawpaw_ref, text)
    inter = len(got & exp)
    p = inter / len(got)
    r = inter / len(exp)
    assert p >= 0.99 and r >= 0.99, (p, r, len(got), len(exp))
