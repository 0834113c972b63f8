"""Golden outputs of the segmentation kernel.

``segment_text`` is the hot path of every KG build, and its other checks
either need the reference pawpaw (absent on most hosts) or compare the
kernel against itself. These pin its exact records instead:

* a sha256 over the records of every named RuleSet in
  :mod:`pawpaw_spark.rulesets` applied to every document of two seeded
  synthetic corpora, and
* fixed cases for each extract feature: repeated captures, nested groups,
  ``limit``, ``group_filter``, unnamed groups, a callable desc,
  ``within_gaps_of`` and zero-width matches.

Records are compared in list order, so ``parent_idx`` values pin the
tree shape too. Pure Python, no Spark session.
"""

import hashlib

import pytest

from pawpaw_spark import rulesets
from pawpaw_spark.corpus import generate_rows
from pawpaw_spark.kernel import segment_text
from pawpaw_spark.rules import BoundaryRetention, RuleSet, extract, gaps, split

NAMED = ("CODE_RULES", "TEXT_RULES", "CANONICAL_RULES", "CONSTITUTION_RULES",
         "XML_RULES", "MARKDOWN_RULES")

# (seed, n_files) corpora -> sha256 over every (RuleSet, doc) record list
GOLDEN = {
    (11, 300):
        "36abd4bae975ca5f5d8e1f6407a3bd32e8b419e63788efb0d3e6777ff122ad53",
    (12, 300):
        "f8551f62b919f182d03b209c985d71d0948d70994932d3f5c24359bc3200c530",
}


def _digest(seed: int, n_files: int) -> str:
    docs = [r["content"] for r in generate_rows(n_files, seed, include_demo_corpora=False)]
    h = hashlib.sha256()
    for name in NAMED:
        rules = getattr(rulesets, name)
        h.update(name.encode())
        for text in docs:
            for rec in segment_text(text, rules):
                h.update(repr(rec).encode())
            h.update(b"\n")
    return h.hexdigest()


def test_named_rulesets_are_all_covered():
    found = {n for n, v in vars(rulesets).items() if isinstance(v, rulesets.RuleSet)}
    assert found == set(NAMED)


@pytest.mark.parametrize("seed,n_files", sorted(GOLDEN))
def test_corpus_digest(seed, n_files):
    assert _digest(seed, n_files) == GOLDEN[(seed, n_files)]


def _key_and_text(m, gk):
    """Module-level so the rule stays picklable."""
    return f"{gk}={m.group(gk)}"


CASES = {
    "repeated_captures": (
        "ab c", RuleSet.of(extract(r"(?P<c>\w)+", tag="t")),
        [
            (0, 4, '$doc', -1, 0, '$root'),
            (0, 1, 'c', 0, 1, 't'),
            (1, 2, 'c', 0, 1, 't'),
            (3, 4, 'c', 0, 1, 't'),
        ]),
    "repeated_inside_named": (
        "ab c", RuleSet.of(extract(r"(?P<w>(?P<c>\w)+)", tag="t")),
        [
            (0, 4, '$doc', -1, 0, '$root'),
            (0, 2, 'w', 0, 1, 't'),
            (0, 1, 'c', 1, 2, 't'),
            (1, 2, 'c', 1, 2, 't'),
            (3, 4, 'w', 0, 1, 't'),
            (3, 4, 'c', 4, 2, 't'),
        ]),
    "nested_groups": (
        "ab 12 c 3", RuleSet.of(extract(rulesets.PHRASE_PAT, tag="p")),
        [
            (0, 9, '$doc', -1, 0, '$root'),
            (0, 5, 'phrase', 0, 1, 'p'),
            (0, 2, 'word', 1, 2, 'p'),
            (0, 1, 'char', 2, 3, 'p'),
            (1, 2, 'char', 2, 3, 'p'),
            (3, 5, 'number', 1, 2, 'p'),
            (3, 4, 'digit', 5, 3, 'p'),
            (4, 5, 'digit', 5, 3, 'p'),
            (6, 9, 'phrase', 0, 1, 'p'),
            (6, 7, 'word', 8, 2, 'p'),
            (6, 7, 'char', 9, 3, 'p'),
            (8, 9, 'number', 8, 2, 'p'),
            (8, 9, 'digit', 11, 3, 'p'),
        ]),
    "limit_single_capture": (
        "a b c d", RuleSet.of(extract(r"(?P<w>\w)", limit=2, tag="t")),
        [
            (0, 7, '$doc', -1, 0, '$root'),
            (0, 1, 'w', 0, 1, 't'),
            (2, 3, 'w', 0, 1, 't'),
        ]),
    "limit_counts_roots_of_a_match": (
        "ab cd", RuleSet.of(extract(r"(?P<c>\w)+", limit=1, tag="t")),
        [
            (0, 5, '$doc', -1, 0, '$root'),
            (0, 1, 'c', 0, 1, 't'),
            (1, 2, 'c', 0, 1, 't'),
        ]),
    "group_filter": (
        "nine 9 ten 10",
        RuleSet.of(extract(rulesets.PHRASE_PAT, group_filter=("word", "number"), tag="t")),
        [
            (0, 13, '$doc', -1, 0, '$root'),
            (0, 4, 'word', 0, 1, 't'),
            (5, 6, 'number', 0, 1, 't'),
            (7, 10, 'word', 0, 1, 't'),
            (11, 13, 'number', 0, 1, 't'),
        ]),
    "unnamed_groups": (
        "a1 b2", RuleSet.of(extract(r"(\w)(\d)", tag="t")),
        [
            (0, 5, '$doc', -1, 0, '$root'),
            (0, 1, '1', 0, 1, 't'),
            (1, 2, '2', 0, 1, 't'),
            (3, 4, '1', 0, 1, 't'),
            (4, 5, '2', 0, 1, 't'),
        ]),
    "fixed_desc": (
        "a1 b2", RuleSet.of(extract(r"(?P<l>\w)(?P<d>\d)", desc="x", tag="t")),
        [
            (0, 5, '$doc', -1, 0, '$root'),
            (0, 1, 'x', 0, 1, 't'),
            (1, 2, 'x', 0, 1, 't'),
            (3, 4, 'x', 0, 1, 't'),
            (4, 5, 'x', 0, 1, 't'),
        ]),
    "callable_desc": (
        "ab 12", RuleSet.of(extract(r"(?P<w>[a-z]+)|(?P<n>\d)+", desc=_key_and_text, tag="t")),
        [
            (0, 5, '$doc', -1, 0, '$root'),
            (0, 2, 'w=ab', 0, 1, 't'),
            (3, 4, 'n=2', 0, 1, 't'),
            (4, 5, 'n=2', 0, 1, 't'),
        ]),
    "within_gaps_of": (
        "ab12cd 3 ef",
        RuleSet.of(
            extract(r"(?P<number>\d+)", tag="num"),
            extract(r"(?P<word>[a-z]+)", tag="w", within_gaps_of="num"),
        ),
        [
            (0, 11, '$doc', -1, 0, '$root'),
            (2, 4, 'number', 0, 1, 'num'),
            (7, 8, 'number', 0, 1, 'num'),
            (0, 2, 'word', 0, 1, 'w'),
            (4, 6, 'word', 0, 1, 'w'),
            (9, 11, 'word', 0, 1, 'w'),
        ]),
    "zero_width_group": (
        "ab", RuleSet.of(extract(r"(?P<z>)", tag="t")),
        [
            (0, 2, '$doc', -1, 0, '$root'),
            (0, 0, 'z', 0, 1, 't'),
            (1, 1, 'z', 0, 1, 't'),
            (2, 2, 'z', 0, 1, 't'),
        ]),
    "zero_width_and_nonempty": (
        "baa", RuleSet.of(extract(r"(?P<e>a*)", tag="t")),
        [
            (0, 3, '$doc', -1, 0, '$root'),
            (0, 0, 'e', 0, 1, 't'),
            (1, 3, 'e', 0, 1, 't'),
            (3, 3, 'e', 0, 1, 't'),
        ]),
    "zero_width_repeats": (
        "aab", RuleSet.of(extract(r"(?P<r>a*)+", tag="t")),
        [
            (0, 3, '$doc', -1, 0, '$root'),
            (0, 2, 'r', 0, 1, 't'),
            (2, 2, 'r', 1, 2, 't'),
            (2, 2, 'r', 0, 1, 't'),
            (2, 2, 'r', 3, 2, 't'),
            (3, 3, 'r', 0, 1, 't'),
            (3, 3, 'r', 5, 2, 't'),
        ]),
    "on_desc_chain": (
        "x1 y2\n\nz3",
        RuleSet.of(
            split(r"\n\n+", desc="para", tag="para"),
            extract(r"(?P<tok>\w(?P<dig>\d))", on="para", tag="tok"),
            extract(r"(?P<d>\d)", on=("dig",), tag="d"),
        ),
        [
            (0, 9, '$doc', -1, 0, '$root'),
            (0, 5, 'para', 0, 1, 'para'),
            (7, 9, 'para', 0, 1, 'para'),
            (0, 2, 'tok', 1, 2, 'tok'),
            (1, 2, 'dig', 3, 3, 'tok'),
            (3, 5, 'tok', 1, 2, 'tok'),
            (4, 5, 'dig', 5, 3, 'tok'),
            (7, 9, 'tok', 2, 2, 'tok'),
            (8, 9, 'dig', 7, 3, 'tok'),
            (1, 2, 'd', 4, 4, 'd'),
            (4, 5, 'd', 6, 4, 'd'),
            (8, 9, 'd', 8, 4, 'd'),
        ]),
    "split_all_and_gaps": (
        "a, b,,c",
        RuleSet.of(
            split(r",", desc="part", retention=BoundaryRetention.ALL, tag="s"),
            gaps(r"\s+", on="part", desc="g", return_zero_widths=True, tag="g"),
        ),
        [
            (0, 7, '$doc', -1, 0, '$root'),
            (0, 1, 'part', 0, 1, 's'),
            (1, 2, None, 0, 1, 's'),
            (2, 4, 'part', 0, 1, 's'),
            (4, 5, None, 0, 1, 's'),
            (5, 6, None, 0, 1, 's'),
            (6, 7, 'part', 0, 1, 's'),
            (0, 1, 'g', 1, 2, 'g'),
            (3, 4, 'g', 3, 2, 'g'),
            (6, 7, 'g', 6, 2, 'g'),
        ]),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_fixed_case(name):
    text, rules, expected = CASES[name]
    assert segment_text(text, rules) == expected
