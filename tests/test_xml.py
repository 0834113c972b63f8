"""XML segmentation: expat-offset parse -> segment rows.

The reference's XmlParser cannot run on CPython >= 3.11 (its pure-python
ElementTree hook broke — SURVEY.md §5), so parity is asserted against
the *structure* the reference's descriptors define
(``pawpaw/xml/descriptors.py``): element/tag/attributes/attribute/
key/value/text spans that slice back to the exact source substrings."""

from pawpaw_spark.sources.xml import segment_xml, xml_segment_records

DOC = (
    "<?xml version='1.0'?>\n"
    "<data note=\"x\">\n"
    "  <!-- a comment -->\n"
    "  <?proc do it?>\n"
    "  <item id=\"1\" rank=\"9\"><name>alpha</name></item>\n"
    "  <item id=\"2\">beta</item>\n"
    "</data>"
)


def _by_desc(recs):
    out = {}
    for r in recs:
        out.setdefault(r["desc"], []).append(r)
    return out


class TestXmlRecords:
    def test_structure(self):
        recs = xml_segment_records("d", DOC)
        by = _by_desc(recs)
        assert len(by["element"]) == 4  # data, item, name, item
        assert len(by["attribute"]) == 4  # note, id, rank, id
        assert len(by["start_tag"]) == 4 and len(by["end_tag"]) == 4
        assert len(by["tag"]) == 4 and len(by["name"]) == 4
        assert len(by["comment"]) == 1
        assert len(by["pi"]) == 1  # <?proc ...?> (the XML decl is not a PI)

    def test_spans_slice_to_source(self):
        recs = xml_segment_records("d", DOC)
        by = _by_desc(recs)
        names = sorted(DOC[r["start"]:r["stop"]] for r in by["key"])
        assert names == ["id", "id", "note", "rank"]
        vals = sorted(DOC[r["start"]:r["stop"]] for r in by["value"])
        assert vals == ["1", "2", "9", "x"]
        texts = [DOC[r["start"]:r["stop"]] for r in by["text"]]
        assert "alpha" in texts and any("beta" in t for t in texts)
        comment = DOC[by["comment"][0]["start"]:by["comment"][0]["stop"]]
        assert comment == "<!-- a comment -->"

    def test_nesting(self):
        recs = xml_segment_records("d", DOC, include_root=True)
        idx = {r["seg_id"]: r for r in recs}
        for r in recs:
            if r["parent_id"] is not None:
                p = idx[r["parent_id"]]
                assert p["start"] <= r["start"] and r["stop"] <= p["stop"], (r, p)

    def test_malformed_returns_nothing_or_raises(self):
        try:
            recs = xml_segment_records("d", "<a><b></a>")
        except Exception:
            return
        assert isinstance(recs, list)


class TestXmlSpark:
    def test_segment_xml(self, spark):
        from pawpaw_spark.schemas import SOURCE_SCHEMA

        rows = [
            {"repo": "r", "path": "a.xml", "commit": "c", "lang": "xml",
             "content": DOC, "sha256": None},
            {"repo": "r", "path": "bad.xml", "commit": "c", "lang": "xml",
             "content": "<a><b></a>", "sha256": None},
        ]
        src = spark.createDataFrame(rows, schema=SOURCE_SCHEMA)
        segs = segment_xml(src).collect()
        docs = {r.doc_id for r in segs}
        assert "r/a.xml@c" in docs
        local = xml_segment_records("r/a.xml@c", DOC)
        assert len([r for r in segs if r.doc_id == "r/a.xml@c"]) == len(local)


def test_deep_nesting_no_recursion_limit(spark):
    """The xpath_recursion_depth demo: stdlib ElementTree XPath blows the
    recursion limit at depth ~300; the offset parser + relational tree
    must not (expat walk, iterative indexes, plumule joins)."""
    depth = 300
    text = "<span>" * depth + "<p>text to be extracted</p>" + "</span>" * depth
    from pawpaw_spark.kernel import segment_text
    from pawpaw_spark.rulesets import XML_RULES

    segs = segment_text(text, XML_RULES)
    # the <p> element exists at depth ~depth, tree fully built
    p = [s for s in segs if s[2] == "element" and text[s[0]:s[0]+3] == "<p>"]
    assert len(p) == 1
    assert max(s[4] for s in segs) >= depth

    # and the plumule descendants axis finds its text node relationally
    from pawpaw_spark.operators.segment import segment
    from pawpaw_spark.plans.plumule import PlumuleEngine

    df = spark.createDataFrame([("d", text)], "doc_id string, content string")
    seg_df = segment(df, XML_RULES, include_root=True)
    hits = PlumuleEngine(seg_df).find_all("**[d:text]").collect()
    assert len(hits) == 1
    h = hits[0]
    assert text[h.start:h.stop] == "text to be extracted"


NS_DOC = (
    "<root xmlns=\"http://def.example\" xmlns:a=\"http://a.example\">\n"
    "  <a:item id=\"1\">first</a:item>\n"
    "  <item>second</item>\n"
    "  <inner xmlns=\"http://inner.example\">\n"
    "    <item>third</item>\n"
    "  </inner>\n"
    "</root>"
)


class TestXmlHelpers:
    """XmlHelper surface (reference xml_helper.py:82-249) as DataFrame
    joins over the descriptor segments."""

    @staticmethod
    def _fixture(spark):
        src = spark.createDataFrame([("x1", NS_DOC)], "doc_id string, content string")
        segs = segment_xml(src, include_root=True).cache()
        return src, segs

    def test_local_name_and_namespace_cols_vs_reference(self, spark, pawpaw_ref):
        from pawpaw.xml import XmlHelper
        from pyspark.sql import functions as F

        from pawpaw_spark.sources.xml_helpers import local_name, namespace_of

        tags = ["{http://x}node", "plain", "{u}v", "}odd"]
        df = spark.createDataFrame([(t,) for t in tags], "tag string")
        got = df.select(
            local_name(F.col("tag")).alias("ln"),
            namespace_of(F.col("tag")).alias("ns"),
        ).collect()
        for t, r in zip(tags, got):
            assert r["ln"] == XmlHelper.get_local_name(t), t
            assert r["ns"] == XmlHelper.get_namespace(t), t

    def test_qualified_names(self, spark):
        from pawpaw_spark.sources.xml_helpers import qualified_names

        src, segs = self._fixture(spark)
        rows = qualified_names(segs, src).collect()
        got = sorted(((r["prefix"], r["local"]) for r in rows), key=str)
        assert got == sorted(
            [(None, "root"), ("a", "item"), (None, "item"), (None, "inner"), (None, "item")],
            key=str,
        )

    def test_xmlns_declarations_and_prefix_map(self, spark):
        from pawpaw_spark.sources.xml_helpers import prefix_map, xmlns_declarations

        src, segs = self._fixture(spark)
        decls = sorted(
            [(r["prefix"], r["uri"]) for r in xmlns_declarations(segs, src).collect()],
            key=str,
        )
        assert decls == sorted(
            [(None, "http://def.example"), ("a", "http://a.example"), (None, "http://inner.example")],
            key=str,
        )
        pm = {(r["prefix"], r["uri"]) for r in prefix_map(segs, src).collect()}
        assert pm == {("a", "http://a.example")}

    def test_default_namespaces_nearest_ancestor(self, spark):
        from pawpaw_spark.sources.xml_helpers import (
            default_namespaces, element_texts, find_elements_by_local_name,
        )

        src, segs = self._fixture(spark)
        texts = {r["element_id"]: r["text"].strip() for r in element_texts(segs, src).collect()}
        dns = {r["element_id"]: r["default_uri"] for r in default_namespaces(segs, src).collect()}
        # map element ids -> contained text to identify them
        by_text = {v: k for k, v in texts.items() if v in ("first", "second", "third")}
        assert dns[by_text["second"]] == "http://def.example"
        assert dns[by_text["third"]] == "http://inner.example"
        # a:item carries the outer default too (prefix overrides are
        # resolved by the caller, as in the reference)
        assert dns[by_text["first"]] == "http://def.example"
        # find by local name crosses namespaces/prefixes
        items = find_elements_by_local_name(segs, src, "item")
        assert items.count() == 3
