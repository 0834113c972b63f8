"""Tree navigation helpers + custom (Itorator.wrap) rule kind."""

import pytest
from pyspark.sql import functions as F

from pawpaw_spark.kernel import segment_text
from pawpaw_spark.operators.consolidate import consolidate
from pawpaw_spark.operators.segment import segment
from pawpaw_spark.plans import tree
from pawpaw_spark.rules import RuleSet, custom, extract, split


def upper_runs(text, start, stop):
    """Example user transform: spans of consecutive uppercase chars."""
    i = start
    while i < stop:
        if text[i].isupper():
            j = i
            while j < stop and text[j].isupper():
                j += 1
            yield (i, j, "upper")
            i = j
        else:
            i += 1


class TestCustomRule:
    def test_kernel(self):
        segs = segment_text("ab CDE fg HI", RuleSet.of(custom(upper_runs)))
        spans = [(s, e, d) for s, e, d, *_ in segs[1:]]
        assert spans == [(3, 6, "upper"), (10, 12, "upper")]

    def test_spark(self, spark):
        from pawpaw_spark.schemas import SOURCE_SCHEMA

        rows = [{"repo": "r", "path": "p", "commit": "c", "lang": "text",
                 "content": "ab CDE fg HI", "sha256": None}]
        src = spark.createDataFrame(rows, schema=SOURCE_SCHEMA)
        got = sorted(
            (r.start, r.stop) for r in segment(src, RuleSet.of(custom(upper_runs))).collect()
        )
        assert got == [(3, 6), (10, 12)]

    def test_chained_on(self):
        rules = RuleSet.of(
            split(r",", desc="part"),
            custom(upper_runs, on="part"),
        )
        segs = segment_text("AB,cd EF", rules)
        uppers = [(s, e) for s, e, d, *_ in segs if d == "upper"]
        assert uppers == [(0, 2), (6, 8)]

    def test_spans_clamped_before_empty_ones_drop(self):
        def overreach(text, start, stop):
            yield (start, stop, "inside")
            yield (stop + 2, stop + 5, "outside")  # wholly past the target
            yield (stop - 1, stop + 3, "straddle")  # clamps to (stop-1, stop)

        rules = RuleSet.of(
            split(r" ", desc="part", tag="part"),
            custom(overreach, on="part", tag="c"),
        )
        assert segment_text("ab cd", rules)[3:] == [
            (0, 2, "inside", 1, 2, "c"),
            (1, 2, "straddle", 3, 3, "c"),
            (3, 5, "inside", 2, 2, "c"),
            (4, 5, "straddle", 5, 3, "c"),
        ]


@pytest.fixture(scope="module")
def segs(spark):
    from pawpaw_spark.schemas import SOURCE_SCHEMA

    rows = [{"repo": "r", "path": "p", "commit": "c", "lang": "text",
             "content": "one 1 two 22\n\nthree 333", "sha256": None}]
    src = spark.createDataFrame(rows, schema=SOURCE_SCHEMA)
    rules = RuleSet.of(
        split(r"\n\n", desc="para"),
        extract(r"(?P<word>[A-Za-z]+)|(?P<number>\d+)", on="para"),
    )
    return segment(src, rules, include_root=True).cache()


class TestTreeHelpers:
    def test_roots_and_leaves(self, segs):
        assert tree.roots(segs).count() == 1
        leaves = tree.leaves(segs).collect()
        assert all(r.n_children == 0 for r in leaves)
        assert {r.desc for r in leaves} == {"word", "number"}

    def test_children_and_parent(self, segs):
        paras = segs.filter(F.col("desc") == "para")
        kids = tree.children_of(segs, paras)
        assert kids.count() == 6  # para1: 2 words + 2 numbers; para2: 1 + 1
        back = tree.parent_of(segs, kids)
        assert {r.desc for r in back.collect()} == {"para"}

    def test_descendants_dfs_order(self, segs):
        root = tree.roots(segs)
        desc = tree.descendants_of(segs, root).collect()
        assert [r.dfs_idx for r in desc] == sorted(r.dfs_idx for r in desc)
        assert len(desc) == segs.count() - 1

    def test_ancestors(self, segs):
        words = segs.filter(F.col("desc") == "word")
        anc = tree.ancestors_of(segs, words)
        assert {r.desc for r in anc.collect()} == {"$doc", "para"}

    def test_subtree_spans(self, segs):
        stats = {r.seg_id: r.n_descendants for r in tree.subtree_spans(segs).collect()}
        root_id = tree.roots(segs).first().seg_id
        assert stats[root_id] == segs.count() - 1


def test_consolidate_wrap(spark):
    from pawpaw_spark.schemas import SOURCE_SCHEMA

    rows = [{"repo": "r", "path": "p", "commit": "c", "lang": "text",
             "content": "a 1 b 2 c", "sha256": None}]
    src = spark.createDataFrame(rows, schema=SOURCE_SCHEMA)
    segs = segment(src, RuleSet.of(extract(r"(?P<tok>\S+)", value_for=("tok",))))

    def merge_all(rows):
        if not rows:
            return []
        return [{"start": rows[0]["start"], "stop": rows[-1]["stop"],
                 "desc": "all", "n_merged": len(rows)}]

    out = consolidate(segs, merge_all).collect()
    assert len(out) == 1 and out[0].n_merged == 5 and out[0].desc == "all"


class TestRebuildForest:
    SPANS = [(0, 40), (0, 10), (2, 6), (3, 4), (7, 9), (12, 30), (13, 20), (21, 29), (35, 39)]

    def _reference_tree(self, pawpaw_ref, order):
        text = "x" * 50
        root = pawpaw_ref.Ito(text, 0, 40, desc="s0")
        itos = [pawpaw_ref.Ito(text, a, b, desc=f"s{a}") for a, b in order]
        root.children.add_hierarchical(*itos)
        out = {}

        def walk(ito, parent):
            out[(ito.start, ito.stop)] = (parent.start, parent.stop) if parent else None
            for c in ito.children:
                walk(c, ito)

        walk(root, None)
        return out

    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_matches_reference_any_insertion_order(self, spark, pawpaw_ref, seed):
        import random

        from pawpaw_spark.plans.tree import rebuild_forest

        inner = [s for s in self.SPANS if s != (0, 40)]
        rng = random.Random(seed)
        order = inner[:]
        rng.shuffle(order)
        expected = self._reference_tree(pawpaw_ref, order)

        spans = spark.createDataFrame(
            [("d", a, b, f"s{a}") for a, b in self.SPANS],
            "doc_id string, start long, stop long, desc string",
        )
        forest = rebuild_forest(spans)
        rows = {r.seg_id: r for r in forest.collect()}
        got = {}
        for r in rows.values():
            p = rows.get(r.parent_id) if r.parent_id is not None else None
            got[(r.start, r.stop)] = (p.start, p.stop) if p else None
        assert got == expected

    def test_attach_reparents_enclosed(self, spark):
        from pawpaw_spark.plans.tree import attach_by_containment

        base = spark.createDataFrame(
            [("d", 0, 20, "root"), ("d", 2, 5, "a"), ("d", 8, 12, "b")],
            "doc_id string, start long, stop long, desc string",
        )
        new = spark.createDataFrame(
            [("d", 1, 6, "wrap")], "doc_id string, start long, stop long, desc string"
        )
        rows = {r.desc: r for r in attach_by_containment(base, new).collect()}
        ids = {r.desc: r.seg_id for r in rows.values()}
        assert rows["wrap"].parent_id == ids["root"]
        assert rows["a"].parent_id == ids["wrap"]  # re-parented onto the tighter span
        assert rows["b"].parent_id == ids["root"]
        assert rows["a"].depth == 2 and list(rows["a"].path) == [ids["root"], ids["wrap"]]


def desc_by_len(m, gk):
    return "long" if (m.end(str(gk)) - m.start(str(gk))) > 3 else "short"


def test_desc_func(spark):
    """Callable desc (reference Extract desc_func surface)."""
    from pawpaw_spark.schemas import SOURCE_SCHEMA

    rows = [{"repo": "r", "path": "p", "commit": "c", "lang": "text",
             "content": "hi there big x", "sha256": None}]
    src = spark.createDataFrame(rows, schema=SOURCE_SCHEMA)
    segs = segment(src, RuleSet.of(extract(r"(?P<tok>\S+)", desc=desc_by_len)))
    got = sorted((r.start, r.desc) for r in segs.collect())
    assert got == [(0, "short"), (3, "long"), (9, "short"), (13, "short")]
