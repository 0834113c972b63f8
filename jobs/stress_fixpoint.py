#!/usr/bin/env python
"""Round-5 fixpoint scale stress (verdict item #4): synthesize an sf1
corpus (10x sf0.1 — dense customer keys, the only input the fixpoint
contract queries consume) and run the five heaviest fixpoint/iterative
queries once each, recording wall seconds and result rows.

  python jobs/stress_fixpoint.py [--mult 10] [--out /tmp/sf1] \
      [--cpus 32]

Prints ONE JSON line; paste the numbers into BASELINE.md §Fixpoint
scale stress. The queries are the CONTRACT functions themselves
(__spark_entry__), so the measured plans are exactly what the
correctness gate verifies at small SF:

  kg_scc            trim + forward-max coloring + reverse collect,
                    both max relaxations (session.relax;
                    log-diameter doubling-chord groups)
  kg_datalog        semi-naive stratified Datalog over the binary tree
                    (depth log2(m): sf1 adds ~3 rounds over sf0.1)
  kg_path_closure   CHILD_OF* reflexive-transitive closure
  kg_temporal_reach min-time relaxation (session.relax) for
                    time-respecting reachability over the REAL
                    kernel-parsed call graph
  kg_communities    label propagation (fixed 4 rounds) over the same
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--mult", type=int, default=10,
                   help="scale multiple of sf0.1 (10 = sf1)")
    p.add_argument("--base", default="/root/testdata/sf0.1")
    p.add_argument("--out", default="/tmp/sf1")
    p.add_argument("--cpus", type=int, default=32)
    args = p.parse_args()

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from pawpaw_spark.session import get_spark

    spark = get_spark(
        app_name="stress_fixpoint", master=f"local[{args.cpus}]"
    )

    base_m = spark.read.parquet(f"{args.base}/customer.parquet").count()
    m = base_m * args.mult
    # dense keys 0..m-1 — the only property the constructions need
    spark.range(m).select(
        F.col("id").cast("long").alias("c_custkey")
    ).repartition(args.cpus).write.mode("overwrite").parquet(
        f"{args.out}/customer.parquet"
    )

    results: dict = {"sf_equivalent": 0.1 * args.mult, "m_keys": m}
    queries = [
        "kg_scc", "kg_datalog", "kg_path_closure",
        "kg_temporal_reach", "kg_communities",
    ]
    qmap = E.queries()
    for name in queries:
        t0 = time.time()
        n = qmap[name](spark, args.out).count()
        wall = round(time.time() - t0, 1)
        results[name] = {"wall_sec": wall, "rows": n}
        print(f"[stress] {name}: {wall}s, {n} rows", file=sys.stderr)
        from pawpaw_spark.operators.dedup import release_session_caches

        release_session_caches(spark)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
