"""Pepo dumper + Highlighter parity vs the REFERENCE implementations
(pepo.py / highlighter.py are importable and pure — no XmlParser
involved), char-for-char on equivalent trees."""

import contextlib
import io

import pytest

from pawpaw_spark.operators.segment import segment
from pawpaw_spark.rules import RuleSet, extract, split
from pawpaw_spark.visualization import compact_dump, highlight, json_dump, xml_dump

TEXT = 'nine 9 ten 10. alpha <b>&"x"</b> beta!'

RULES = RuleSet.of(
    split(r"[.!?]\s*", desc="sentence", tag="sent"),
    extract(r"(?P<word>[A-Za-z<>&\"/]+)|(?P<number>\d+)", on="sentence", tag="tok"),
    name="viz_rules",
)


def _ref_tree(pawpaw):
    """The same tree, built reference-side."""
    import regex

    Ito = pawpaw.Ito
    root = Ito(TEXT, desc=None)
    sent_bounds = [m.span() for m in regex.finditer(r"[.!?]\s*", TEXT)]
    pos = 0
    sents = []
    for b0, b1 in sent_bounds:
        if pos < b0:
            sents.append(Ito(TEXT, pos, b0, desc="sentence"))
        pos = b1
    if pos < len(TEXT):
        sents.append(Ito(TEXT, pos, len(TEXT), desc="sentence"))
    for s in sents:
        for m in regex.finditer(r'(?P<word>[A-Za-z<>&"/]+)|(?P<number>\d+)', TEXT,
                                pos=s.start, endpos=s.stop):
            gk = "word" if m.span("word")[0] >= 0 else "number"
            s.children.add(Ito(TEXT, *m.span(gk), desc=gk))
        root.children.add(s)
    return root


@pytest.fixture(scope="module")
def pepo(pawpaw_ref):
    from pawpaw.visualization import pepo

    return pepo


@pytest.fixture(scope="module")
def segs(spark):
    src = spark.createDataFrame([("v1", TEXT)], "doc_id string, content string")
    return segment(src, RULES, include_root=False).cache()


TB = {"v1": TEXT}


class TestPepoParity:
    def test_compact(self, spark, segs, pawpaw_ref, pepo):
        ref = pepo.Compact().dumps(*_ref_tree(pawpaw_ref).children)
        got = compact_dump(segs, TB, "v1")
        assert got == ref

    def test_compact_no_children(self, spark, segs, pawpaw_ref, pepo):
        ref = pepo.Compact(children=False).dumps(*_ref_tree(pawpaw_ref).children)
        got = compact_dump(segs, TB, "v1", children=False)
        assert got == ref

    def test_xml(self, spark, segs, pawpaw_ref, pepo):
        ref = pepo.Xml().dumps(*_ref_tree(pawpaw_ref).children)
        got = xml_dump(segs, TB, "v1")
        assert got == ref

    def test_json(self, spark, segs, pawpaw_ref, pepo):
        ref = pepo.Json().dumps(*_ref_tree(pawpaw_ref).children)
        got = json_dump(segs, TB, "v1")
        assert got == ref
        # and it parses
        import json as j

        parsed = j.loads(got)
        assert {c["desc"] for c in parsed["itos"]} == {"sentence"}


class TestHighlighterParity:
    def test_highlight_matches_reference_stdout(self, spark, segs, pawpaw_ref):
        from pawpaw.visualization import sgr
        from pawpaw.visualization.highlighter import Highlighter

        colors = [sgr.Colors.EightBit(17), sgr.Colors.EightBit(22), sgr.Colors.EightBit(52)]
        ref_root = _ref_tree(pawpaw_ref)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            Highlighter(colors).print(ref_root)
        # our surface takes SGR prefixes; build them with the same sgr
        # encoder the reference used
        palette = [sgr.Back.from_color(c) for c in colors]
        # our tree lacks the (implicit) root row: re-segment with it
        from pawpaw_spark.operators.segment import segment as seg_op

        src = spark.createDataFrame([("v1", TEXT)], "doc_id string, content string")
        segs_root = seg_op(src, RULES, include_root=True)
        got = highlight(segs_root, TB, "v1", palette, reset=str(sgr.Back.RESET))
        assert got == buf.getvalue()
