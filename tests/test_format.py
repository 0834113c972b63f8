"""Format mini-language: differential vs reference Ito.__format__
(``pawpaw/ito.py:599-715``) + the Spark batch surface."""

import pytest
from pyspark.sql import functions as F

from pawpaw_spark.functions.format import format_segments, parse_format, render

STRINGS = ["hello world", "a b c d e", "x" * 30 + " tail", "é中文 abc def", ""]
SPECS = [
    "%span", "%start", "%stop", "%start:3d", "%stop:>5", "%span:04d",
    "%desc", "%substr", "%value", "%string", "%span %desc : %substr",
    "a%%b", "%desc!r", "%desc!a", "%substr!1r1", "%substr!r0",
    "%substr:5", "%substr:<5..", "%substr:^9~", "%substr:>4..", "%desc:1",
    "% ", "x% y", "%bogus", "pre %span%desc post", "%substr:2##",
    "%value!a2:6*",
]


def _itos(pawpaw, s):
    if len(s) >= 7:
        return [
            pawpaw.Ito(s, 2, 7, desc="d1"),
            pawpaw.Ito(s, 0, len(s), desc=None),
            pawpaw.Ito(s, 3, 3, desc="empty"),
        ]
    return [pawpaw.Ito(s, 0, len(s), desc="zz")]


@pytest.mark.parametrize("spec", SPECS)
def test_render_matches_reference(pawpaw_ref, spec):
    for s in STRINGS:
        for ito in _itos(pawpaw_ref, s):
            try:
                exp = format(ito, spec)
            except Exception as e:  # noqa: BLE001 — error parity by type
                exp = ("ERR", type(e).__name__)
            try:
                got = render(
                    parse_format(spec), ito.start, ito.stop, ito.desc, str(ito), None, s
                )
            except Exception as e:  # noqa: BLE001
                got = ("ERR", type(e).__name__)
            assert got == exp, f"{spec!r} on {str(ito)!r}"


def test_format_segments_spark(spark):
    from pawpaw_spark.operators.segment import segment
    from pawpaw_spark.rules import RuleSet, extract

    src = spark.createDataFrame(
        [("d1", "nine 9 ten 10"), ("d2", "abc")],
        "doc_id string, content string",
    )
    segs = segment(src, RuleSet.of(extract(r"(?P<word>[A-Za-z]+)")))
    out = format_segments(segs, "%desc %span : '%substr'", source=src)
    got = {r["formatted"] for r in out.collect()}
    assert "word (0, 4) : 'nine'" in got
    assert "word (7, 10) : 'ten'" in got
    assert "word (0, 3) : 'abc'" in got


def test_span_only_spec_needs_no_source(spark):
    from pawpaw_spark.operators.segment import segment
    from pawpaw_spark.rules import RuleSet, extract

    src = spark.createDataFrame([("d1", "one two")], "doc_id string, content string")
    segs = segment(src, RuleSet.of(extract(r"(?P<word>[A-Za-z]+)")))
    out = format_segments(segs, "%desc@%start-%stop")
    got = sorted(r["formatted"] for r in out.collect())
    assert got == ["word@0-3", "word@4-7"]


def test_tree_dump_matches_reference_dumper(spark, pawpaw_ref):
    import regex

    from pawpaw import arborform, visualization
    from pawpaw_spark.operators.segment import segment
    from pawpaw_spark.plans.tree import tree_dump
    from pawpaw_spark.rules import RuleSet, extract

    text = "nine 9 ten 10 eleven 11"
    pat = r"(?P<phrase>(?P<word>[a-z]+) (?P<number>\d+))"

    root = pawpaw_ref.Ito(text, desc="$doc")
    for t in arborform.Extract(regex.compile(pat))(root.clone()):
        root.children.add(t)
    expected = visualization.pepo.Tree().dumps(root)

    src = spark.createDataFrame([("d", text)], "doc_id string, content string")
    segs = segment(src, RuleSet.of(extract(pat)), include_root=True)
    got = tree_dump(segs, {"d": text}, "d")
    assert got.strip() == expected.strip()
