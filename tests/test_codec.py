"""pawpaw JSON interchange codec round-trips, verified against the
REFERENCE's own JsonEncoder/JsonDecoderHook (ito.py:423-512)."""

import json

import pytest

from pawpaw_spark.codec import from_pawpaw_json, segments_to_pawpaw_json
from pawpaw_spark.operators.segment import segment
from pawpaw_spark.rules import RuleSet, extract, split

# every sentence has >=2 words and every doc >=2 sentences: the
# reference decoder rebuilds nesting with add_hierarchical, which
# resolves EQUAL spans by insertion key — avoid span ties so the
# containment order is unambiguous in both engines
DOCS = [
    ("d1", "nine 9 ten 10. eleven 11 twelve!"),
    ("d2", "alpha beta. gamma delta! epsilon zeta"),
    ("d3", "x y. z w"),
]

RULES = RuleSet.of(
    split(r"[.!?]\s*", desc="sentence", tag="sent"),
    extract(r"(?P<word>[A-Za-z]+)|(?P<number>\d+)", on="sentence", tag="tok"),
    name="codec_rules",
)


def _ref_tree_tuples(ito, parent_span=None):
    """Flatten a reference Ito tree to comparable tuples."""
    out = [(tuple(ito.span), ito.desc, parent_span)]
    for c in ito.children:
        out += _ref_tree_tuples(c, tuple(ito.span))
    return out


def _row_tree_tuples(rows):
    by_id = {r["seg_id"]: r for r in rows}
    out = []
    for r in rows:
        p = by_id.get(r["parent_id"])
        out.append(
            (
                (r["start"], r["stop"]),
                r["desc"],
                (p["start"], p["stop"]) if p else None,
            )
        )
    return out


@pytest.fixture(scope="module")
def segs(spark):
    src = spark.createDataFrame(DOCS, "doc_id string, content string")
    return segment(src, RULES, include_root=True).cache()


class TestEncode:
    def test_reference_decodes_stringless_export(self, spark, segs, pawpaw_ref):
        Ito = pawpaw_ref.Ito
        out = {r["doc_id"]: r["json"] for r in segments_to_pawpaw_json(segs).collect()}
        assert set(out) == {d for d, _ in DOCS}
        for doc, text in DOCS:
            ref = json.loads(out[doc], object_hook=Ito.JsonDecoderHook(string=text))
            assert isinstance(ref, Ito)
            # reference-side tree == our segment rows, span/desc/parentage
            rows = [r.asDict() for r in segs.filter(segs.doc_id == doc).collect()]
            got = sorted(_ref_tree_tuples(ref))
            exp = sorted(_row_tree_tuples(rows))
            # root desc: our ROOT sentinel "$doc" survives — rewrite both
            assert [(s, d if d != "$doc" else ref.desc, p) for s, d, p in exp] == [
                (s, d, p) for s, d, p in got
            ]
            # zero-copy invariant: every rendered value matches the source
            for (a, b), _, _ in got:
                assert str(Ito(text, a, b)) == text[a:b]

    def test_reference_decodes_embedded_string_export(self, spark, segs, pawpaw_ref):
        Ito = pawpaw_ref.Ito
        src = spark.createDataFrame(DOCS, "doc_id string, content string")
        out = {
            r["doc_id"]: r["json"]
            for r in segments_to_pawpaw_json(segs, stringless=False, source=src).collect()
        }
        for doc, text in DOCS:
            # no string provided at decode time: must come from the payload
            ref = json.loads(out[doc], object_hook=Ito.JsonDecoderHook())
            assert isinstance(ref, Ito)
            assert ref.string == text

    def test_wire_format_fields(self, spark, segs):
        js = segments_to_pawpaw_json(segs).first()["json"]
        obj = json.loads(js)
        assert obj["__type__"] == "pawpaw.ito.Ito"
        assert obj["__version__"] == "1.0.2"
        assert obj["path"] == "."
        assert "string" not in obj
        assert set(obj["ito"]) == {"span", "desc", "children"}


class TestDecode:
    def test_import_of_reference_encoded_json(self, spark, pawpaw_ref):
        Ito = pawpaw_ref.Ito
        # build a tree reference-side, encode with the REFERENCE encoder,
        # import into segment rows
        text = "hello big world"
        root = Ito(text, desc="doc")
        a = Ito(text, 0, 5, desc="w1")
        b = Ito(text, 6, 9, desc="w2")
        c = Ito(text, 6, 7, desc="ch")
        root.children.add(a)
        root.children.add(b)
        b.children.add(c)
        # encode from a child: the reference encoder serializes the full
        # tree plus the path to the focused node
        js = json.dumps(b, cls=Ito.JsonEncoder, stringless=True)
        jdf = spark.createDataFrame([("t1", js)], "doc_id string, json string")
        rows = [r.asDict() for r in from_pawpaw_json(jdf).orderBy("seg_id").collect()]
        assert [(r["start"], r["stop"], r["desc"], r["depth"]) for r in rows] == [
            (0, 15, "doc", 0),
            (0, 5, "w1", 1),
            (6, 9, "w2", 1),
            (6, 7, "ch", 2),
        ]
        # parentage
        assert rows[0]["parent_id"] is None
        assert rows[1]["parent_id"] == rows[0]["seg_id"]
        assert rows[3]["parent_id"] == rows[2]["seg_id"]

    def test_round_trip_through_both_engines(self, spark, segs):
        # ours -> JSON -> ours: identical span/desc/parentage multiset
        jdf = segments_to_pawpaw_json(segs)
        back = from_pawpaw_json(jdf)
        for doc, _ in DOCS:
            orig = [r.asDict() for r in segs.filter(segs.doc_id == doc).collect()]
            got = [r.asDict() for r in back.filter(back.doc_id == doc).collect()]
            norm = lambda rows: sorted(
                (s, d if d != "$doc" else None, p)
                for s, d, p in _row_tree_tuples(rows)
            )
            assert norm(orig) == norm(got)


class TestPickleInterop:
    """Optional pickle sink: trees round-trip through the reference's
    own pickle surface (__getstate__/__setstate__, ito.py:404-421)."""

    def test_pickle_round_trip_and_reference_unpickle(self, spark, segs, pawpaw_ref):
        Ito = pawpaw_ref.Ito
        import pickle

        from pawpaw_spark.codec import from_pickle, segments_to_pickle

        src = spark.createDataFrame(DOCS, "doc_id string, content string")
        pk = segments_to_pickle(segs, src, pawpaw_path="/root/reference").cache()
        blobs = {r["doc_id"]: bytes(r["pkl"]) for r in pk.collect()}
        assert set(blobs) == {d for d, _ in DOCS}
        # driver-side reference unpickle: real Ito with the text attached
        for doc, text in DOCS:
            tree = pickle.loads(blobs[doc])
            assert isinstance(tree, Ito)
            assert tree.string == text
            assert str(next(iter(tree.children))) == text[: next(iter(tree.children)).stop]
        # distributed decode back to rows == original segments
        back = from_pickle(pk, pawpaw_path="/root/reference")
        for doc, _ in DOCS:
            orig = [r.asDict() for r in segs.filter(segs.doc_id == doc).collect()]
            got = [r.asDict() for r in back.filter(back.doc_id == doc).collect()]
            norm = lambda rows: sorted(
                (s, d if d != "$doc" else None, p)
                for s, d, p in _row_tree_tuples(rows)
            )
            assert norm(orig) == norm(got)
