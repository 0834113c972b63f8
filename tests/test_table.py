"""StyledTable parity: our table rules vs the reference StyledTable
itorator on the same documents (grid + pipe styles)."""

import pytest
from pyspark.sql import functions as F

from pawpaw_spark.operators.table import (
    GRID, PIPE_PAT, TableStyle, detect_tables, table_rules,
)
from pawpaw_spark.operators.segment import segment

GRID_DOC = """intro line

-----+-----+-----
  A  |  B  |  C
-----+-----+-----
 aaa | bbb | ccc
-----+-----+-----

trailing prose
"""

PIPE_DOC = """para

    | A | B | C |
    |---|:-:|--:|
    | 1 | 2 | 3 |
    | 4 | 5 | 6 |

done
"""

NO_TABLE_DOC = "just text\nwith lines\n"


def _src(spark, docs):
    from pawpaw_spark.schemas import SOURCE_SCHEMA

    rows = [
        {"repo": "r", "path": k, "commit": "c", "lang": "text", "content": v, "sha256": None}
        for k, v in docs.items()
    ]
    return spark.createDataFrame(rows, schema=SOURCE_SCHEMA)


def _got(df):
    out = {}
    for r in df.collect():
        if r.desc in ("table", "header_row", "row", "pre_caption", "post_caption"):
            out.setdefault(r.doc_id, set()).add((r.start, r.stop, r.desc))
    return out


def _ref_spans(pawpaw_ref, ref_style, text):
    from pawpaw.table import StyledTable

    itor = StyledTable(ref_style).get_itor()
    spans = set()

    def walk(ito):
        if ito.desc in ("table", "header_row", "row", "pre_caption", "post_caption"):
            spans.add((ito.start, ito.stop, ito.desc))
        for c in ito.children:
            walk(c)

    for hit in itor(pawpaw_ref.Ito(text)):
        walk(hit)
    return spans


def test_grid_vs_reference(spark, pawpaw_ref):
    from pawpaw.table.styles import TYPE_1

    docs = {"grid": GRID_DOC, "none": NO_TABLE_DOC}
    got = _got(detect_tables(_src(spark, docs), GRID))
    for name, text in docs.items():
        assert got.get(f"r/{name}@c", set()) == _ref_spans(pawpaw_ref, TYPE_1, text), name


def test_pipe_style_finds_rows(spark):
    got = _got(detect_tables(_src(spark, {"pipe": PIPE_DOC}), PIPE_PAT))
    spans = got.get("r/pipe@c", set())
    descs = [d for (_, _, d) in spans]
    assert descs.count("table") == 1
    assert descs.count("header_row") == 1
    assert descs.count("row") == 2


def test_cells(spark):
    segs = segment(_src(spark, {"grid": GRID_DOC}), table_rules(GRID, cells=True))
    cells = [r for r in segs.collect() if r.desc == "cell"]
    assert len(cells) == 6  # 2 data/header rows x 3 cells each... grid has 2 rows
