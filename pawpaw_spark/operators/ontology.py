"""Ontology discovery: a rule-tree applied to every document.

Spark form of the reference's ``Ontology.discover``
(``pawpaw/ontology/ontology.py:60-70``): an ontology is a nested dict
whose nodes carry segmentation rules; ``discover`` applies every node's
rules to the input segments, keyed by the node's path. (In the
reference each node's rules see the *input* itos, not the parent
node's hits — the result is a parallel tree of independent hit lists;
``Discoveries.flatten`` at ``ontology.py:23-28``.)

Here the ontology is flattened to (path, rule) rows at plan time and
shipped in one kernel closure; the output is the relational form of
``Discoveries.flatten()``:  (doc_id, path, start, stop, desc) — one row
per top-level hit. Rules reuse :class:`pawpaw_spark.rules.Rule`
('extract' kind), so patterns compile once per executor via the shared
kernel cache.
"""

from __future__ import annotations

from typing import Iterator, Mapping

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pawpaw_spark.kernel import segment_text
from pawpaw_spark.operators.segment import doc_id_col, fan_out
from pawpaw_spark.rules import Rule, RuleSet, extract

_OUT_DDL = "doc_id string, path array<string>, start long, stop long, desc string"


class Ontology(dict):
    """Nested rule tree. ``rules`` holds this node's rules; dict items
    are child ontologies. Mirrors the reference's public shape."""

    def __init__(self, *args, rules: list[Rule] | None = None, **kwargs):
        self._rules = list(rules or [])
        super().__init__(*args, **kwargs)

    @property
    def rules(self) -> list[Rule]:
        return self._rules

    def flatten(self, path: tuple[str, ...] = ()) -> list[tuple[tuple[str, ...], Rule]]:
        out = [(path, r) for r in self._rules]
        for k, child in self.items():
            out.extend(child.flatten(path + (k,)))
        return out


def vocab_node(*patterns: str, desc: str | None = None) -> Ontology:
    """Convenience: a node whose rules are plain extract regexes.

    Extract semantics emit capture-group spans only (reference default
    group_filter, ``extract.py:17``) — a groupless vocab pattern is
    wrapped in a named group so the whole match is the hit."""
    label = desc or "hit"
    wrapped = [p if "(?P<" in p else f"(?P<{label}>{p})" for p in patterns]
    return Ontology(rules=[extract(p, desc=label) for p in wrapped])


def discover(
    source: DataFrame, ontology: Ontology, text_col: str = "content"
) -> DataFrame:
    """(doc_id, path, start, stop, desc) — every node's rule hits over
    every document. One kernel pass, all paths."""
    flat = ontology.flatten()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs, paths, starts, stops, descs = [], [], [], [], []
            for did, text in zip(pdf["__doc_id"].values, pdf["__text"].values):
                if text is None:
                    continue
                text = str(text)
                for path, rule in flat:
                    # top-level hits only (depth==1 == the match roots),
                    # matching Discoveries.itos membership
                    for start, stop, desc, parent, depth, _tag in segment_text(
                        text, RuleSet.of(rule)
                    ):
                        if depth == 1:
                            docs.append(str(did))
                            paths.append(list(path))
                            starts.append(start)
                            stops.append(stop)
                            descs.append(desc)
            if docs:
                yield pd.DataFrame(
                    {"doc_id": docs, "path": paths, "start": starts,
                     "stop": stops, "desc": descs}
                )

    src = source.select(doc_id_col(source).alias("__doc_id"), F.col(text_col).alias("__text"))
    src = fan_out(source, src)
    return src.mapInPandas(run, schema=_OUT_DDL)


def discovery_counts(source: DataFrame, ontology: Ontology, text_col: str = "content") -> DataFrame:
    """Hits per ontology path — the ``Discoveries.flatten`` summary."""
    return (
        discover(source, ontology, text_col)
        .groupBy(F.concat_ws("/", "path").alias("path"))
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
