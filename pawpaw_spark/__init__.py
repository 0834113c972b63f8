"""pawpaw_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the computational semantics of rlayers/pawpaw (zero-copy
segment trees + regex-rule pipelines + tree query language) as a
corpus-scale Spark dataflow:

    source table (repo, path, commit, lang, content)
      -> vectorized segmentation (Arrow-batched, rule-driven)  [operators.segment]
      -> hierarchical segment rows (offsets only, zero text copies at rest)
      -> (subj, pred, obj) triples                             [operators.triples]
      -> MinHash/LSH + similarity-scored entity linking        [operators.linking]
      -> union-find canonicalization                           [operators.canon]
      -> partitioned node/edge tables + lineage                [pipeline]

This is a from-scratch Spark-first design, not a port: trees never live
as driver objects, rules are plain data shipped to executors, and all
plan-level optimization is delegated to Catalyst.
"""

from pyspark import TaskContext

from pawpaw_spark.rules import RuleSet, extract, split, gaps, literal, BoundaryRetention
from pawpaw_spark.session import get_spark

if TaskContext.get() is not None:
    # imported by a UDF inside a Python worker: once per worker process
    from pawpaw_spark import _worker

    _worker.install()

__version__ = "0.1.0"

__all__ = [
    "RuleSet",
    "extract",
    "split",
    "gaps",
    "literal",
    "BoundaryRetention",
    "get_spark",
    "__version__",
]
