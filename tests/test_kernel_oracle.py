"""Differential tests: our kernel vs the reference (pawpaw in-process).

Strategy mirrors the reference's own differential-testing style
(SURVEY.md §5): same input strings, same rule programs, compare the
emitted (start, stop, desc, parent_span) sets exactly.
"""

import regex
import pytest

from pawpaw_spark.corpus import CANONICAL, load_constitution
from pawpaw_spark.kernel import segment_text
from pawpaw_spark.rules import ROOT, BoundaryRetention, RuleSet, extract, gaps, split

from .conftest import kernel_tuples, oracle_tree_tuples

PHRASE_PAT = r"(?P<phrase>(?P<word>(?P<char>\w)+) (?P<number>(?P<digit>\d)+))"

TEXTS = [
    CANONICAL,
    "",
    "no digits here at all",
    "a1 b2 c3",
    "  leading and trailing  ",
    "one\n\ntwo\n\nthree paragraphs 42 here",
]


@pytest.fixture(scope="module")
def constitution():
    text = load_constitution()
    return text if text else pytest.skip("constitution corpus missing")


class TestExtract:
    @pytest.mark.parametrize("text", TEXTS)
    def test_nested_groups_match_reference(self, pawpaw_ref, text):
        itor = pawpaw_ref.arborform.Extract(regex.compile(PHRASE_PAT))
        expected = oracle_tree_tuples(itor(pawpaw_ref.Ito(text)))
        got = kernel_tuples(segment_text(text, RuleSet.of(extract(PHRASE_PAT))))
        assert got == expected

    def test_limit(self, pawpaw_ref):
        text = CANONICAL
        itor = pawpaw_ref.arborform.Extract(regex.compile(PHRASE_PAT), limit=2)
        expected = oracle_tree_tuples(itor(pawpaw_ref.Ito(text)))
        got = kernel_tuples(segment_text(text, RuleSet.of(extract(PHRASE_PAT, limit=2))))
        assert got == expected

    def test_group_filter(self, pawpaw_ref):
        text = CANONICAL
        itor = pawpaw_ref.arborform.Extract(
            regex.compile(PHRASE_PAT), group_filter=("word", "number")
        )
        expected = oracle_tree_tuples(itor(pawpaw_ref.Ito(text)))
        got = kernel_tuples(
            segment_text(text, RuleSet.of(extract(PHRASE_PAT, group_filter=("word", "number"))))
        )
        assert got == expected

    def test_unnamed_groups_use_index_desc(self, pawpaw_ref):
        pat = r"(\w+) (\d+)"
        text = CANONICAL
        itor = pawpaw_ref.arborform.Extract(regex.compile(pat))
        expected = oracle_tree_tuples(itor(pawpaw_ref.Ito(text)))
        got = kernel_tuples(segment_text(text, RuleSet.of(extract(pat))))
        assert got == expected

    def test_repeated_group_captures(self, pawpaw_ref):
        # the (?P<char>\w)+ idiom: one group, many capture spans per match
        pat = r"(?P<word>(?P<char>\w)+)"
        text = "abc de f"
        itor = pawpaw_ref.arborform.Extract(regex.compile(pat))
        expected = oracle_tree_tuples(itor(pawpaw_ref.Ito(text)))
        got = kernel_tuples(segment_text(text, RuleSet.of(extract(pat))))
        assert got == expected


class TestSplit:
    @pytest.mark.parametrize("retention", list(BoundaryRetention))
    @pytest.mark.parametrize(
        "text,pat",
        [
            ("a,b,,c", r","),
            ("a, b , c", r"\s*,\s*"),
            ("nosep", r","),
            (",lead", r","),
            ("trail,", r","),
            ("one\n\ntwo\n\nthree", r"\n\n"),
        ],
    )
    def test_retention_matrix(self, pawpaw_ref, text, pat, retention):
        ref_ret = getattr(pawpaw_ref.arborform.Split.BoundaryRetention, retention.name)
        itor = pawpaw_ref.arborform.Split(
            regex.compile(pat), boundary_retention=ref_ret, desc="part"
        )
        expected = oracle_tree_tuples(itor(pawpaw_ref.Ito(text)))
        got = kernel_tuples(
            segment_text(text, RuleSet.of(split(pat, desc="part", retention=retention)))
        )
        assert got == expected

    def test_zero_split_true_false(self, pawpaw_ref):
        text = "nomatch"
        for rzs in (True, False):
            itor = pawpaw_ref.arborform.Split(
                regex.compile(r","), return_zero_split=rzs, desc="part"
            )
            expected = oracle_tree_tuples(itor(pawpaw_ref.Ito(text)))
            got = kernel_tuples(
                segment_text(
                    text, RuleSet.of(split(r",", desc="part", return_zero_split=rzs))
                )
            )
            assert got == expected

    def test_limit(self, pawpaw_ref):
        text = "a,b,c,d,e"
        itor = pawpaw_ref.arborform.Split(regex.compile(r","), limit=2, desc="part")
        expected = oracle_tree_tuples(itor(pawpaw_ref.Ito(text)))
        got = kernel_tuples(
            segment_text(text, RuleSet.of(split(r",", desc="part", limit=2)))
        )
        assert got == expected


class TestGaps:
    @pytest.mark.parametrize(
        "text,pat",
        [
            ("  a b  c ", r"\s+"),
            ("abc", r"\s+"),
            ("   ", r"\s+"),
            ("a1b2c3", r"\d"),
            ("", r"\s+"),
        ],
    )
    def test_vs_from_gaps(self, pawpaw_ref, text, pat):
        non_gaps = [m.span() for m in regex.finditer(pat, text)]
        spans = [pawpaw_ref.Span(*s) for s in non_gaps]
        expected = {
            (i.start, i.stop, i.desc, None)
            for i in pawpaw_ref.Ito.from_gaps(text, spans, desc="gap")
        }
        got = kernel_tuples(segment_text(text, RuleSet.of(gaps(pat, desc="gap"))))
        assert got == expected

    def test_zero_widths(self, pawpaw_ref):
        text = "ab12cd"
        non_gaps = [m.span() for m in regex.finditer(r"[a-z]+", text)]
        spans = [pawpaw_ref.Span(*s) for s in non_gaps]
        expected = {
            (i.start, i.stop, i.desc, None)
            for i in pawpaw_ref.Ito.from_gaps(text, spans, desc="g", return_zero_widths=True)
        }
        got = kernel_tuples(
            segment_text(text, RuleSet.of(gaps(r"[a-z]+", desc="g", return_zero_widths=True)))
        )
        assert got == expected


class TestChainedPipeline:
    def test_split_then_extract_matches_children_add(self, pawpaw_ref):
        text = "one 1 two 2\n\nthree 3 four 4\n\nfive 5"
        para = pawpaw_ref.arborform.Split(regex.compile(r"\n\n"), desc="para")
        word = pawpaw_ref.arborform.Extract(regex.compile(PHRASE_PAT))
        para.connections.append(pawpaw_ref.arborform.Connectors.Children.Add(word))
        expected = oracle_tree_tuples(para(pawpaw_ref.Ito(text)))
        got = kernel_tuples(
            segment_text(
                text,
                RuleSet.of(
                    split(r"\n\n", desc="para"),
                    extract(PHRASE_PAT, on="para"),
                ),
            )
        )
        assert got == expected

    def test_constitution_article_section_pipeline(self, pawpaw_ref, constitution):
        # mirrors the us_constitution demo parser shape
        # (docs/demos/us_constitution/us_constitution.py:16-55)
        art = pawpaw_ref.arborform.Split(
            regex.compile(r"(?=Article\.?\s+[IVX]+\.?)"), desc="article"
        )
        sec = pawpaw_ref.arborform.Split(
            regex.compile(r"(?=Section\.?\s+\d+\.?)"), desc="section"
        )
        art.connections.append(pawpaw_ref.arborform.Connectors.Children.Add(sec))
        expected = oracle_tree_tuples(art(pawpaw_ref.Ito(constitution)))
        got = kernel_tuples(
            segment_text(
                constitution,
                RuleSet.of(
                    split(r"(?=Article\.?\s+[IVX]+\.?)", desc="article"),
                    split(r"(?=Section\.?\s+\d+\.?)", on="article", desc="section"),
                ),
            )
        )
        assert got == expected


class TestFromSubstrings:
    """literal(*substrings) vs the reference Ito.from_substrings
    (ito.py:271-314), including the repeated-substring doc example."""

    CASES = [
        ("ababce", ("ab", "ce")),
        ("ababce", ("ab", "ab", "ce")),
        ("nine 9 ten 10", ("nine", "ten")),
        ("xxyxx", ("xx", "xx")),
    ]

    def test_sequential_multi_substring(self, pawpaw_ref):
        Ito = pawpaw_ref.Ito

        from pawpaw_spark.rules import literal

        for text, subs in self.CASES:
            ref = [tuple(i.span) for i in Ito.from_substrings(text, *subs, desc="s")]
            segs = segment_text(text, RuleSet.of(literal(*subs, desc="s")))
            got = [(s[0], s[1]) for s in segs[1:]]
            assert got == ref, (text, subs)

    def test_missing_substring_stops_instead_of_raising(self):
        from pawpaw_spark.rules import literal

        segs = segment_text("ab only", RuleSet.of(literal("ab", "zz", "b", desc="s")))
        # 'ab' found; 'zz' missing -> locating stops (reference raises;
        # a corpus rule must not kill the job)
        assert [(s[0], s[1]) for s in segs[1:]] == [(0, 2)]

    def test_single_substring_scans_all_occurrences(self):
        from pawpaw_spark.rules import literal

        segs = segment_text("ababab", RuleSet.of(literal("ab", desc="s")))
        assert [(s[0], s[1]) for s in segs[1:]] == [(0, 2), (2, 4), (4, 6)]

    def test_nul_in_substring_rejected(self):
        import pytest

        from pawpaw_spark.rules import literal

        # NUL is the internal pack separator of the sequential form; a
        # substring containing it must error, not silently change the
        # rule into multiple locate steps.
        with pytest.raises(ValueError, match="NUL"):
            literal("a\x00b", "c", desc="s")
        with pytest.raises(ValueError, match="NUL"):
            literal("ok", "a\x00b", desc="s")
