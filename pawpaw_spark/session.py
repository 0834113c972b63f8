"""SparkSession factory tuned for the KG-construction workload.

Local mode is a sandbox proxy for a multi-executor cluster: every knob
set here (AQE, skew-join handling, Arrow batching, shuffle-partition
sizing) is the same knob that matters at 1000 executors; only the
values scale.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _worker_python_path() -> str:
    """The directory holding ``pawpaw_spark``, then any inherited
    ``PYTHONPATH``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH", "")) if p)


def get_spark(
    app_name: str = "pawpaw_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("PAWPAW_SPARK_MASTER", "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Parallelism-derived defaults: shuffle partitions ~ cores in local mode;
    # on a real cluster this is set to 2-3x total cores via spark-submit conf.
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local["):-1]
            shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Source files vary 100B-10MB; bound Arrow batch row counts so a
        # batch of long documents still fits comfortably in executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # NOTE: spark.sql.files.minPartitionNum is deliberately NOT set:
        # parquet cannot split below row-group granularity, so the floor
        # only manufactures empty splits — which hide under-splitting
        # from the explicit fan-out heuristic (segment.fan_out repartitions
        # when the input has fewer partitions than defaultParallelism).
        .config("spark.driver.memory", os.environ.get("PAWPAW_SPARK_DRIVER_MEM", "48g"))
        # Batch-throughput GC: the edge tables materialize millions of
        # short-lived strings per task; G1's pause-time targeting caps
        # scaling at high core counts (measured 0.46 -> 0.84 efficiency
        # 8->32 cores switching to the parallel collector).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        # catalog tables (bucketed layouts, storage.py) land outside the
        # repo; static conf, so it must be set at session creation
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("PAWPAW_SPARK_WAREHOUSE", "/tmp/pawpaw_spark_warehouse"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers start in the JVM's cwd; put this package on
        # their path so UDFs unpickle from any cwd
        .config("spark.executorEnv.PYTHONPATH", _worker_python_path())
        # PySpark's per-call origin capture (the Python call site shown in
        # DataFrame error contexts) costs ~6 py4j round trips on every
        # Column/DataFrame call: SPARQL compile, fixpoint loops and build
        # planning are driver-side chains of such calls. PySpark reads
        # the flag once per process, at its first such call, so it is a
        # creation default (``extra_conf`` can turn the capture back on)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark, rows: list[dict], schema):
    """A one-partition DataFrame over driver-built ``rows`` (dicts keyed
    by ``schema``'s field names).

    The rows go to the JVM as one Arrow table and plan as a
    ``LocalTableScan``: no Python worker runs, and a write of the frame
    is one task and one part file. ``spark.createDataFrame(list)``
    instead pickles the rows into ``defaultParallelism`` partitions
    that Python workers decode, and a write of it leaves one small file
    per partition. Build every small driver-side frame on the build
    path (lineage rows, the driver union-find) through here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema).coalesce(1)


def truncated_checkpoint(df):
    """``localCheckpoint(eager=True)`` that also RESETS plan statistics.

    Spark's ``localCheckpoint`` truncates the logical plan to a
    ``LogicalRDD`` but carries the pre-checkpoint ``sizeInBytes``
    forward as origin stats. An iterative operator whose round output
    consumes the previous round's checkpoint TWICE (k-core's two
    survivor restrictions, PageRank's contribution + dangling-mass
    reads) therefore SQUARES the size estimate every round —
    double-exponential BigInteger growth that OOMs the driver inside
    ``SizeInBytesOnlyStatsPlanVisitor`` after ~30 rounds (observed on a
    30-round peel cascade; digit count doubles per round). Rebuilding
    the DataFrame from the checkpointed InternalRow RDD drops the
    origin stats, so every round starts from ``defaultSizeInBytes``
    again: estimates stay O(1) while AQE's runtime statistics (exact,
    post-shuffle) still drive broadcast/skew decisions where they
    matter.

    Uses ``SparkSession.internalCreateDataFrame`` (the same JVM entry
    point PySpark's own Arrow ingestion rides); falls back to the plain
    checkpoint if the internal surface moves.
    """
    cp = df.localCheckpoint(eager=True)
    try:
        from pyspark.sql import DataFrame

        spark = df.sparkSession
        jrdd = cp._jdf.queryExecution().toRdd()
        jschema = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
            cp.schema.json()
        )
        return DataFrame(
            spark._jsparkSession.internalCreateDataFrame(jrdd, jschema, False),
            spark,
        )
    except Exception:  # pragma: no cover - internal-API drift guard
        return cp


@contextmanager
def fixpoint_loop_conf(spark, approx_state_rows: int | None = None,
                       rows_per_partition: int = 2_000_000):
    """Runtime-conf scope for iterative fixpoint loops (SCC, CC,
    k-core, BFS, LPA, topo peeling).

    A fixpoint loop's per-round state is O(V + E) of the GRAPH — at
    corpus scale that is orders of magnitude smaller than the scan that
    produced the edges (a 100 TB corpus yields an edge table in the
    tens of GB), and at bench scale it is kilobytes. Two session
    defaults that are right for corpus-sized scans are wrong inside the
    loop:

    * ``spark.sql.shuffle.partitions`` sized for the corpus gives every
      tiny per-round shuffle the full task fan-out — pure scheduling
      fixed cost, paid 2-4x per round x rounds-to-convergence;
    * AQE materializes EVERY shuffle stage as its own job to re-plan —
      adaptivity buys nothing on a loop whose stages are uniform and
      metadata-sized, but multiplies job-launch fixed costs ~4x
      (measured: one SCC decomposition at sf0.1 = 223 jobs with AQE on,
      per-job cost dominating end-to-end wall time).

    Inside the scope, shuffle width tracks the STATE size
    (``approx_state_rows / rows_per_partition``, floored at 4 for
    straggler/skew headroom, capped at the session default so a
    billion-edge graph still gets the full cluster width) and AQE is
    off (loop shuffles are uniform; skew in the DATA-sized joins that
    build the edge table stays outside the scope, where AQE remains
    on). Both confs are restored on exit even on error — the scope is
    what makes a session-global runtime conf safe to touch here.
    """
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    try:
        default_sp = int(old_sp)
    except (TypeError, ValueError):  # pragma: no cover - "auto" etc.
        default_sp = 200
    width = default_sp
    if approx_state_rows is not None:
        width = max(4, min(default_sp, approx_state_rows // rows_per_partition + 1))
    try:
        conf.set("spark.sql.shuffle.partitions", str(width))
        conf.set("spark.sql.adaptive.enabled", "false")
        yield width
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)


def semi_naive(facts, delta, step, key, max_rounds: int, name: str,
               hint: str, start: int = 0):
    """Semi-naive fixpoint loop -> ``(facts, new)``: the saturated fact
    set and the rows added since ``delta`` (``delta`` included), each a
    lazy union of checkpointed parts.

    ``facts`` is the materialized state and already contains ``delta``,
    the rows new in the last round. Round ``r`` (``start`` up to
    ``max_rounds - 1``; ``start`` counts rounds the caller already ran,
    e.g. a naive first round) calls ``step(delta, facts, r)`` for the
    candidate rows, or ``None`` when no rule can fire. Candidates are
    deduped on ``key`` and anti-joined against ``facts``; what is left
    is checkpointed (:func:`truncated_checkpoint`) and becomes the next
    delta, and an empty delta is the fixpoint. Run it inside
    :func:`fixpoint_loop_conf`.

    Non-convergence raises: a silent truncation would return wrong
    answers, not slow ones. ``name`` and ``hint`` (what sets the round
    count) make the message the caller's own.
    """
    key = list(key)
    new = delta
    for r in range(start, max_rounds):
        cand = step(delta, facts, r)
        if cand is None:
            return facts, new
        delta = truncated_checkpoint(
            cand.distinct().join(facts, key, "left_anti")
        )
        if delta.isEmpty():
            return facts, new
        # lazy union of checkpointed deltas: each row is materialized
        # exactly once
        facts = facts.union(delta)
        new = new.union(delta)
        if (r + 1) % 4 == 0:
            # compact the growing union-of-parts: round r scans r
            # checkpointed deltas per join otherwise — O(D^2) task
            # fan-out over a D-round fixpoint. Rewriting the state every
            # 4 rounds bounds the part count at 4 for ~state/4 amortized
            # extra writes
            facts = truncated_checkpoint(facts)
    raise _nonconverged(name, max_rounds, hint)


def relax(state, edges, message, agg: str, max_rounds: int, name: str,
          hint: str):
    """Monotone value relaxation to its fixpoint -> ``state`` with the
    same columns.

    ``state`` is ``(node, val, *carried)`` and ``edges`` is ``(src,
    dst, *cols)``. Each round every edge sends ``message`` (a Column
    over the edge joined to its source's state row; NULL sends nothing)
    to ``dst``, and each node takes the better (``agg``: ``"min"`` or
    ``"max"``) of its own ``val`` and its best incoming message. A node
    reached for the first time joins the state through the full-outer
    merge, its carried columns NULL. Values only move one way, so the
    first round that changes nothing is the fixpoint: R improving
    rounds need ``max_rounds = R + 1``.

    Three rounds compose lazily per :func:`truncated_checkpoint` (one
    job runs them back to back), then one probe reads the last round's
    change flag. Run it inside :func:`fixpoint_loop_conf`.
    Non-convergence raises as in :func:`semi_naive`.
    """
    better = {"min": F.least, "max": F.greatest}[agg]
    best = {"min": F.min, "max": F.max}[agg]
    cols = state.columns
    done = 0
    while done < max_rounds:
        k = min(3, max_rounds - done)
        for j in range(k):
            inc = (
                edges.join(state, F.col("src") == F.col("node"))
                .select(F.col("dst").alias("node"), message.alias("_m"))
                # dropped before the merge: a node hearing only NULL
                # messages would otherwise join with a NULL value
                .filter(F.col("_m").isNotNull())
                .groupBy("node")
                .agg(best("_m").alias("_in"))
            )
            val = better("val", "_in")
            out = [val.alias("val") if c == "val" else c for c in cols]
            if j == k - 1:
                out.append((~F.col("val").eqNullSafe(val)).alias("_chg"))
            state = state.join(inc, "node", "full").select(*out)
        state = truncated_checkpoint(state)
        done += k
        changed = not state.filter(F.col("_chg")).isEmpty()
        state = state.drop("_chg")
        if not changed:
            return state
    raise _nonconverged(name, max_rounds, hint)


def _nonconverged(name: str, max_rounds: int, hint: str) -> RuntimeError:
    """The fixpoint drivers' one non-convergence error."""
    return RuntimeError(
        f"{name} did not converge in {max_rounds} rounds; "
        f"raise max_rounds ({hint})"
    )
