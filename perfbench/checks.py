"""Correctness gates: the expected triple set from the pure-Python
oracle, an order-insensitive digest that Spark and Python compute
identically, and DuckDB answers for the SPARQL list."""

from __future__ import annotations

import hashlib
import time

from pawpaw_spark.kernel import segment_text
from pawpaw_spark.oracle import derive_triples
from pawpaw_spark.rulesets import LANG_RULES, TEXT_RULES

from inputs import doc_id

_SEP = "\x1f"


def _halves(s: str) -> tuple[int, int]:
    h = hashlib.md5(s.encode()).hexdigest()
    return int(h[:8], 16), int(h[8:16], 16)


def set_digest(triples) -> tuple[int, int, int]:
    """(count, xor of md5 high words, xor of md5 low words) of a set."""
    hi = lo = 0
    n = 0
    for t in triples:
        a, b = _halves(_SEP.join(t))
        hi ^= a
        lo ^= b
        n += 1
    return n, hi, lo


def kernel_records(text: str, lang: str):
    """Oracle-shaped records (start, stop, desc, parent_idx, value) of
    one document from ``kernel.segment_text``."""
    rules = LANG_RULES.get(lang, TEXT_RULES)
    value_descs = {d for r in rules for d in r.value_for}
    return [
        (a, b, desc, parent, text[a:b] if desc in value_descs else None)
        for a, b, desc, parent, _depth, _tag in segment_text(text, rules)
    ]


def expected_triples(rows: list[dict]) -> set[tuple[str, str, str]]:
    out: set[tuple[str, str, str]] = set()
    for r in rows:
        out |= derive_triples(doc_id(r), r["repo"], kernel_records(r["content"], r["lang"]))
    return out


def kernel_sample(rows: list[dict], seconds: float = 1.0) -> dict:
    """In-process ``kernel.segment_text`` over a fixed sample, no Spark:
    median docs/s of repeated passes, and segments per pass."""
    sample = [(r["content"], LANG_RULES.get(r["lang"], TEXT_RULES)) for r in rows[:400]]
    rates, segments = [], 0
    deadline = time.perf_counter() + seconds
    while not rates or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        segments = sum(len(segment_text(text, rules)) for text, rules in sample)
        rates.append(len(sample) / (time.perf_counter() - t0))
    rates.sort()
    return {"kernel.docs_per_s": rates[len(rates) // 2], "kernel.segments": segments}


def spark_digest(df) -> tuple[int, int, int, int]:
    """(rows, distinct count, xor hi, xor lo) of ``df``'s (subj, pred,
    obj), computed by Spark to match :func:`set_digest`."""
    from pyspark.sql import functions as F

    md5 = F.md5(F.concat_ws(_SEP, "subj", "pred", "obj"))
    r = (
        df.groupBy("subj", "pred", "obj").agg(F.count(F.lit(1)).alias("n"))
        .select(
            "n",
            F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("lo"),
        )
        .agg(
            F.sum("n").alias("rows"), F.count(F.lit(1)).alias("distinct"),
            F.expr("bit_xor(hi)").alias("hi"), F.expr("bit_xor(lo)").alias("lo"),
        )
        .first()
    )
    return int(r["rows"] or 0), int(r["distinct"]), int(r["hi"] or 0), int(r["lo"] or 0)


def _normalize(cols, rows) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(str(row[i]) for i in order) for row in rows)


def duckdb_answers(parquet_glob: str, queries: list[tuple[str, str]]) -> list[list[tuple[str, ...]]]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW e AS SELECT subj, pred, obj FROM "
            f"read_parquet('{parquet_glob}', hive_partitioning = true)"
        )
        out = []
        for _, sql in queries:
            cur = con.execute(sql)
            out.append(_normalize([d[0] for d in cur.description], cur.fetchall()))
        return out
    finally:
        con.close()


def spark_answer(df) -> list[tuple[str, ...]]:
    return _normalize(df.columns, [tuple(r) for r in df.collect()])
