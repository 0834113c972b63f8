"""Seeded, machine-independent inputs for the benchmark workloads.

Everything here is a pure function of (size, seed): the source corpus,
the day-2 edit applied to it, and the SPARQL query list. The corpus is
generated without the demo windows (``include_demo_corpora=False``) so
it never depends on files outside the checkout, and it is cached as
parquet keyed by (files, seed) so that regenerating it costs nothing
after the first run.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter

from pawpaw_spark import corpus

def doc_id(row: dict) -> str:
    return f"{row['repo']}/{row['path']}@{row['commit']}"


def corpus_rows(n_files: int, seed: int) -> list[dict]:
    return list(corpus.generate_rows(n_files, seed, include_demo_corpora=False))


def edited_rows(rows: list[dict], seed: int, share: float = 0.03) -> list[dict]:
    """Day-2 edit: every file of a few seeded small repos gains one new
    function, until about ``share`` of the files are touched."""
    rng = random.Random(seed * 7919 + 1)
    by_repo = Counter(r["repo"] for r in rows)
    # every repo but the skew fixture's mega repo (corpus.generate_rows)
    repos = sorted(r for r in by_repo if r != "org0/repo0")
    rng.shuffle(repos)
    picked, touched = set(), 0
    for repo in repos:
        if touched >= share * len(rows):
            break
        picked.add(repo)
        touched += by_repo[repo]
    out = []
    for r in rows:
        if r["repo"] in picked:
            r = dict(r)
            r["content"] += f"\n\ndef edited_{seed}(x, y):\n    z = load_data(x)\n    return z + y\n"
            r["sha256"] = hashlib.sha256(r["content"].encode()).hexdigest()
        out.append(r)
    return out


def write_parquet(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pawpaw_spark.schemas import SOURCE_SCHEMA

    names = [f.name for f in SOURCE_SCHEMA.fields]
    table = pa.table({n: [r[n] for r in rows] for n in names})
    tmp = path + f".tmp{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def cached_corpus(cache_dir: str, n_files: int, seed: int) -> tuple[str, list[dict]]:
    """(parquet path, rows) of the seeded corpus, writing the parquet
    only when this (files, seed) pair is not cached yet."""
    rows = corpus_rows(n_files, seed)
    path = os.path.join(cache_dir, f"corpus-f{n_files}-s{seed}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        write_parquet(rows, path)
    return path, rows


def digest_rows(rows: list[dict]) -> str:
    """Order-insensitive digest of the input corpus (doc id + sha256)."""
    h = 0
    for r in rows:
        h ^= int.from_bytes(hashlib.sha256(f"{doc_id(r)}\x1f{r['sha256']}".encode()).digest()[:8], "big")
    return f"{len(rows)}:{h:016x}"


def _q_scan(c):
    return ("SELECT ?f ?t WHERE { ?f DEFINES ?t }",
            "SELECT DISTINCT subj AS f, obj AS t FROM e WHERE pred = 'DEFINES'")


def _q_group_refs(c):
    return ("SELECT ?t (COUNT(?f) AS ?n) WHERE { ?f REFERENCES ?t } GROUP BY ?t",
            "SELECT t, COUNT(f) AS n FROM (SELECT DISTINCT subj AS f, obj AS t "
            "FROM e WHERE pred = 'REFERENCES') GROUP BY t")


def _q_join(c):
    return ("SELECT ?f ?u WHERE { ?f DEFINES ?t . ?t REFERENCES ?u }",
            "SELECT DISTINCT a.subj AS f, b.obj AS u FROM e a JOIN e b ON a.obj = b.subj "
            "WHERE a.pred = 'DEFINES' AND b.pred = 'REFERENCES'")


def _q_repo_files(c):
    return (f"SELECT ?f WHERE {{ <{c['repo']}> CONTAINS ?f }}",
            f"SELECT DISTINCT obj AS f FROM e WHERE subj = '{c['repo']}' AND pred = 'CONTAINS'")


def _q_definers(c):
    return (f"SELECT ?f WHERE {{ ?f DEFINES <sym:{c['sym']}> }}",
            f"SELECT DISTINCT subj AS f FROM e WHERE pred = 'DEFINES' AND obj = 'sym:{c['sym']}'")


def _q_callers(c):
    return (f"SELECT ?s WHERE {{ ?s REFERENCES <sym:{c['sym']}> }}",
            f"SELECT DISTINCT subj AS s FROM e WHERE pred = 'REFERENCES' AND obj = 'sym:{c['sym']}'")


def _q_ask(c):
    return (f"ASK {{ <{c['repo']}> CONTAINS ?f . ?f DEFINES ?t }}",
            "SELECT EXISTS (SELECT 1 FROM e a JOIN e b ON a.obj = b.subj "
            f"WHERE a.subj = '{c['repo']}' AND a.pred = 'CONTAINS' AND b.pred = 'DEFINES') AS ask")


def _q_group_repos(c):
    return ("SELECT ?r (COUNT(?f) AS ?n) WHERE { ?r CONTAINS ?f } GROUP BY ?r",
            "SELECT r, COUNT(f) AS n FROM (SELECT DISTINCT subj AS r, obj AS f "
            "FROM e WHERE pred = 'CONTAINS') GROUP BY r")


_TEMPLATES = [_q_scan, _q_group_refs, _q_join, _q_repo_files,
              _q_definers, _q_callers, _q_ask, _q_group_repos]


def query_list(rows: list[dict], seed: int, n_queries: int) -> list[tuple[str, str]]:
    """A fixed seeded list of (SPARQL, equivalent DuckDB SQL over a view
    ``e`` of the queried edge table): scans, a join, GROUP BY
    aggregates, constant-anchored lookups and an ASK. The templates are
    fixed; the seed picks the constants, so every seed does the same
    kinds of work."""
    rng = random.Random(seed * 104729 + 3)
    repos = sorted({r["repo"] for r in rows})
    symbols = sorted({name for fam in corpus._SYMBOL_FAMILIES for name in fam})
    out = []
    for i in range(n_queries):
        consts = {"repo": rng.choice(repos), "sym": rng.choice(symbols)}
        out.append(_TEMPLATES[i % len(_TEMPLATES)](consts))
    return out
