"""Reference demo-parser parity (SURVEY §5 'north-star oracle set').

Each test reconstructs the REFERENCE demo pipeline exactly as its
``docs/demos/*/solution.py`` builds it (Itorators + Connectors), runs it
on the demo's own input, and compares against our declarative RuleSet
equivalent interpreted by the kernel:

* class_grades — one Extract with nested repeated groups
  (``docs/demos/class_grades/parser_compact.py``)
* Q&A          — Split -> Filter(Delegate) -> Split(Children.Add)
  -> Extract(desc_func) (``docs/demos/Q&A/solution.py``)
* compounds    — zero-width Split -> Delegate(Extract) with VERBOSE
  pattern + duplicate group names (``docs/demos/compounds/solution.py``)
"""

import pytest
import regex

from pawpaw_spark.kernel import segment_text
from pawpaw_spark.rules import RuleSet, extract, split

from .conftest import reference_file

GRADES_PAT = (
    r"(?<school>School = (?<name>.+?)\n"
    r"(?<grade>Grade = (?<key>\d+)\n"
    r"Student number, Name\n(?P<stu_num_names>(?:(?P<stu_num>\d+), (?P<name>.+?)\n)+)\n"
    r"Student number, Score\n(?P<stu_num_scores>(?:(?P<stu_num>\d+), (?P<score>\d+)(?:$|\n))+)(?:$|\n)"
    r")+)+"
)

QA_TEXT = (
    "\na\n\nQ So I do first want to bring up exhibit No. 46, which is in the "
    "binder \nin front of\nyou.\n\nAnd that is a letter [to] Alston\n& Bird...\n"
    "\n\nIs that correct?\n\nA This is correct.\n\nQ Okay."
)

COMPOUNDS_PAT = (
    r"(?P<model>"
    r"MODEL\ "
    r"(?<tag>\d+)"
    r"(?:\n"
    r"(?<remark>"
    r"REMARK\ "
    r"(?<tag>[^\s]+)\ "
    r"(?<value>[^\n]+)"
    r")"
    r")+"
    r"(?:\n"
    r"(?>!=REMARK)"
    r"(?<text>.+)"
    r")?"
    r")+"
)


def _walk(ito):
    yield ito
    for c in ito.children:
        yield from _walk(c)


def _ref_rows(trees):
    """(start, stop, desc, parent-(start,stop,desc)) for every node of
    every yielded tree; tree roots get parent None."""
    rows = set()
    for t in trees:
        for i in _walk(t):
            p = i.parent
            rows.add(
                (
                    i.start,
                    i.stop,
                    i.desc,
                    None if p is None or p.desc == "$doc" else (p.start, p.stop, p.desc),
                )
            )
    return rows


def _our_rows(segs, keep=lambda s: True):
    rows = set()
    for s in segs[1:]:
        if not keep(s):
            continue
        p = segs[s[3]]
        parent = None
        if s[3] != 0 and keep(p):
            parent = (p[0], p[1], p[2])
        rows.add((s[0], s[1], s[2], parent))
    return rows


def test_class_grades_parity(pawpaw_ref):
    pawpaw, arborform = pawpaw_ref, pawpaw_ref.arborform
    text = open(reference_file("docs/demos/class_grades/input.txt")).read()
    ref_itor = arborform.Extract(regex.compile(GRADES_PAT, regex.DOTALL))
    ref = _ref_rows(ref_itor(pawpaw.Ito(text)))

    segs = segment_text(text, RuleSet.of(extract(GRADES_PAT, flags=regex.DOTALL)))
    ours = _our_rows(segs)
    assert ours == ref
    assert any(r[2] == "school" for r in ours)  # the grammar actually fired


def _qa_desc(match, group):  # the demo's desc_func
    return match.group(1)


def test_qa_pipeline_parity(pawpaw_ref):
    pawpaw, arborform = pawpaw_ref, pawpaw_ref.arborform
    # reference graph, exactly as the demo wires it
    itor_split = arborform.Split(
        regex.compile(r"\n+(?=Q_? )", regex.DOTALL), desc="Q/A tuple"
    )
    itor_filt = arborform.Filter(lambda i: i.str_startswith("Q"))
    itor_split.connections.append(arborform.Connectors.Delegate(itor_filt))
    itor_qa_split = arborform.Split(regex.compile(r"\n+(?=A_? )", regex.DOTALL), limit=1)
    itor_filt.connections.append(arborform.Connectors.Children.Add(itor_qa_split))
    itor_extract = arborform.Extract(
        regex.compile(r"([QA])_? (?<QorA>.+)", regex.DOTALL),
        desc=lambda match, group: match.group(1),
    )
    itor_qa_split.connections.append(arborform.Connectors.Children.Add(itor_extract))
    ref = _ref_rows(itor_split(pawpaw.Ito(QA_TEXT)))

    # our rule program; the demo's Filter maps to a relational filter on
    # the tuple segments (df.filter in the DataFrame form) — here applied
    # as the same keep-predicate over the kernel output
    rules = RuleSet.of(
        split(r"\n+(?=Q_? )", desc="Q/A tuple", flags=regex.DOTALL, tag="tuple"),
        split(r"\n+(?=A_? )", on="Q/A tuple", limit=1, flags=regex.DOTALL, tag="qa"),
        extract(r"([QA])_? (?<QorA>.+)", on=None, desc=_qa_desc, flags=regex.DOTALL, tag="x"),
        name="qa",
    )
    segs = segment_text(QA_TEXT, rules)

    def q_tuple_subtree(s):
        # keep only segments under tuples whose text starts with 'Q'
        i = s
        while True:
            if i[2] == "Q/A tuple":
                return QA_TEXT[i[0] : i[1]].startswith("Q")
            if i[3] <= 0:
                return False
            i = segs[i[3]]

    ours = _our_rows(segs, keep=q_tuple_subtree)
    assert ours == ref
    # the demo's desc_func overrides every group's desc with Q/A
    assert {r[2] for r in ours} >= {"Q/A tuple", "Q", "A"}


def test_compounds_parity(pawpaw_ref):
    pawpaw, arborform = pawpaw_ref, pawpaw_ref.arborform
    text = open(reference_file("docs/demos/compounds/compound_1.txt")).read()
    splitter = arborform.Split(regex.compile(r"(?<=^|\n)(?=MODEL \d+)", regex.DOTALL))
    extractor = arborform.Extract(regex.compile(COMPOUNDS_PAT, regex.VERBOSE | regex.DOTALL))
    splitter.connections.append(arborform.Connectors.Delegate(extractor))
    ref = _ref_rows(splitter(pawpaw.Ito(text)))

    # Delegate replaces the split parts with the extract output; our
    # kernel keeps the parts as parents, so compare the extract-derived
    # nodes only, re-rooting parents that are split parts to None
    rules = RuleSet.of(
        split(r"(?<=^|\n)(?=MODEL \d+)", flags=regex.DOTALL, tag="parts"),
        extract(COMPOUNDS_PAT, on=None, flags=regex.VERBOSE | regex.DOTALL, tag="x"),
        name="compounds",
    )
    segs = segment_text(text, rules)
    ours = _our_rows(segs, keep=lambda s: s[5] == "x")
    assert ours == ref
    assert any(r[2] == "model" for r in ours) and any(r[2] == "remark" for r in ours)
