"""Run a SPARQL query string against a materialized KG store.

The consumer half of the spark-submit surface: ``build_kg.py`` writes
the store, this reads it back and executes SELECT / CONSTRUCT / ASK /
DESCRIBE through the text front-end (operators/sparql.py) — including
GRAPH-scoped queries when the chosen table carries a ``graph`` column.
``--update`` runs a SPARQL UPDATE string instead (INSERT/DELETE DATA,
DELETE/INSERT WHERE) and writes the UPDATED triple table to
``--output`` (required — updates are functional, the store is never
mutated in place; point a follow-up build at the output or swap the
directories atomically yourself).

Usage:
  spark-submit --py-files pawpaw_spark.zip jobs/query_kg.py \\
      --store /out/kg --query 'SELECT ?s (COUNT(*) AS ?n) WHERE \\
      { ?s REFERENCES ?t } GROUP BY ?s ORDER BY DESC(?n) LIMIT 10'

  --table picks which materialized edge table to query (edges,
  edges_canonical, edges_fused, edges_owl — whatever the build wrote);
  --output writes the full result as parquet instead of printing the
  first --limit rows as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--store", required=True, help="build_kg.py output dir")
    p.add_argument("--query", default=None, help="SPARQL query string")
    p.add_argument("--update", default=None,
                   help="SPARQL UPDATE string; writes the updated "
                        "triple table to --output (required)")
    p.add_argument(
        "--table", default="edges",
        help="edge table under the store (edges, edges_canonical, "
        "edges_fused, edges_owl, ...)",
    )
    p.add_argument(
        "--output", default=None,
        help="write the FULL result as parquet here instead of printing",
    )
    p.add_argument("--limit", type=int, default=20,
                   help="rows printed without --output")
    p.add_argument("--master", default=None)
    args = p.parse_args()

    from pawpaw_spark.session import get_spark
    from pawpaw_spark.operators.sparql import sparql, sparql_update
    from pawpaw_spark.storage import read_parquet

    if (args.query is None) == (args.update is None):
        raise SystemExit("pass exactly one of --query / --update")
    if args.update is not None and not args.output:
        raise SystemExit("--update requires --output (functional "
                         "updates never mutate the store in place)")
    spark = get_spark(app_name="query_kg", master=args.master)
    path = f"{args.store}/{args.table}"
    edges = read_parquet(spark, path, ("pred",))
    cols = ["subj", "pred", "obj"] + (
        ["graph"] if "graph" in edges.columns else []
    )
    if args.update is not None:
        res = sparql_update(edges.select("subj", "pred", "obj"),
                            args.update)
    else:
        res = sparql(edges.select(*cols), args.query)
    if args.output:
        res.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"rows": res.count(), "output": args.output}))
    else:
        rows = res.limit(args.limit).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        print(
            json.dumps({"printed": len(rows), "columns": res.columns}),
            file=sys.stderr,
        )
    spark.stop()


if __name__ == "__main__":
    main()
