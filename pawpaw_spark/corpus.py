"""Deterministic synthetic source-file corpus (FIXTURES.md F1).

Shape = BASELINE.json input_hint: (repo, path, commit, lang, content).
Used by tests (pawpaw-as-oracle parity) and by bench.py (throughput at
two parallelism levels). Seeded — same args, same bytes, always.

Includes a deliberate "mega repo" holding ~40% of files (the skew
fixture) and near-duplicate symbol names (parse_config / parseConfig /
parse_cfg) to exercise MinHash/LSH linking + union-find.
"""

from __future__ import annotations

import hashlib
import os
import random

CANONICAL = "nine 9 ten 10 eleven 11 TWELVE 12 thirteen 13"

_CONSTITUTION_PATH = "/root/reference/docs/demos/us_constitution/us_constitution.txt"

_SYMBOL_FAMILIES = [
    ["parse_config", "parseConfig", "parse_cfg"],
    ["load_data", "loadData", "load_dat"],
    ["write_output", "writeOutput", "write_out"],
    ["merge_records", "mergeRecords", "merge_recs"],
    ["compute_hash", "computeHash", "compute_hsh"],
    ["scan_table", "scanTable", "scan_tbl"],
]

_MODULES = ["os", "sys", "json", "math", "re", "util", "core", "io_helpers"]


def _py_file(rng: random.Random) -> str:
    lines = []
    for _ in range(rng.randint(1, 3)):
        lines.append(f"import {rng.choice(_MODULES)}")
    lines.append("")
    defined = []
    for _ in range(rng.randint(1, 4)):
        fam = rng.choice(_SYMBOL_FAMILIES)
        name = rng.choice(fam)
        defined.append(name)
        lines.append(f"def {name}(x, y):")
        callee = rng.choice(rng.choice(_SYMBOL_FAMILIES))
        lines.append(f"    z = {callee}(x)")
        lines.append(f"    return z + y")
        lines.append("")
    if rng.random() < 0.5:
        cls = "C" + rng.choice(["onfig", "ore", "ache"])
        lines.append(f"class {cls}:")
        lines.append(f"    def method_{rng.randint(0, 9)}(self):")
        lines.append(f"        return {rng.choice(defined)}(1, 2)")
        lines.append("")
    return "\n".join(lines)


def _grades_file(rng: random.Random) -> str:
    out = []
    for school in rng.sample(["North", "South", "East", "West"], k=rng.randint(1, 2)):
        out.append(f"School = {school}")
        for grade in range(1, rng.randint(2, 4)):
            out.append(f"Grade = {grade}")
            for s in range(rng.randint(1, 3)):
                out.append(f"{rng.randint(1, 99)}, Student{s}")
    return "\n".join(out) + "\n"


def _qa_file(rng: random.Random) -> str:
    out = []
    for i in range(rng.randint(2, 4)):
        out.append(f"Q {i}: what is item {rng.randint(0, 99)}?\n")
        out.append(f"A {i}: it is value {rng.randint(0, 99)}.\n")
    return "\n".join(out)


def _text_file(rng: random.Random, constitution: str | None) -> str:
    if constitution and rng.random() < 0.3:
        # a window of the real demo corpus so the pawpaw oracle applies
        n = len(constitution)
        a = rng.randint(0, max(0, n - 2000))
        return constitution[a : a + rng.randint(500, 2000)]
    words = ["alpha", "beta", "gamma", "delta", "power", "right", "state", "law"]
    sents = []
    for _ in range(rng.randint(3, 12)):
        k = rng.randint(4, 12)
        sents.append(" ".join(rng.choice(words) for _ in range(k)).capitalize() + ".")
    paras, cur = [], []
    for s in sents:
        cur.append(s)
        if rng.random() < 0.4:
            paras.append(" ".join(cur))
            cur = []
    if cur:
        paras.append(" ".join(cur))
    return "\n\n".join(paras)


def _xml_file(rng: random.Random) -> str:
    items = "".join(
        f'<item id="{i}" rank="{rng.randint(1, 9)}"><name>n{i}</name></item>'
        for i in range(rng.randint(1, 5))
    )
    return f"<?xml version='1.0'?><data>{items}</data>"


def load_constitution() -> str | None:
    """The us_constitution demo text, or None when the reference
    checkout is absent."""
    if os.path.exists(_CONSTITUTION_PATH):
        with open(_CONSTITUTION_PATH, encoding="utf-8") as f:
            return f.read()
    return None


def generate_rows(
    n_files: int = 200, seed: int = 42, include_demo_corpora: bool = False,
    start: int = 0,
):
    """Yield dict rows of the source table. Deterministic in (n_files,
    seed, start) on every host. ``start`` offsets the path/commit index
    space so chunked generators (each chunk its own seed) still emit
    globally unique (repo, path, commit) doc identities.

    ``include_demo_corpora=True`` mixes windows of the reference's
    us_constitution demo into the text files and raises
    ``FileNotFoundError`` when that file is absent."""
    rng = random.Random(seed)
    constitution = None
    if include_demo_corpora:
        constitution = load_constitution()
        if constitution is None:
            raise FileNotFoundError(
                f"include_demo_corpora=True needs {_CONSTITUTION_PATH}"
            )
    kinds = ["py", "py", "py", "txt", "txt", "md", "grades", "qa", "xml", "canon"]
    for i in range(start, start + n_files):
        # mega-repo skew: org0/repo0 takes ~40% of files
        if rng.random() < 0.4:
            repo = "org0/repo0"
        else:
            repo = f"org{rng.randint(1, 6)}/repo{rng.randint(1, 22)}"
        kind = rng.choice(kinds)
        if kind == "py":
            content, ext, lang = _py_file(rng), "py", "python"
        elif kind == "md":
            content, ext, lang = "# title\n\n" + _text_file(rng, constitution), "md", "markdown"
        elif kind == "grades":
            content, ext, lang = _grades_file(rng), "txt", "text"
        elif kind == "qa":
            content, ext, lang = _qa_file(rng), "txt", "text"
        elif kind == "xml":
            content, ext, lang = _xml_file(rng), "xml", "xml"
        elif kind == "canon":
            content, ext, lang = CANONICAL, "txt", "text"
        else:
            content, ext, lang = _text_file(rng, constitution), "txt", "text"
        path = f"src/m{i % 13}/f{i}.{ext}"
        commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()[:12]
        yield {
            "repo": repo,
            "path": path,
            "commit": commit,
            "lang": lang,
            "content": content,
            "sha256": hashlib.sha256(content.encode()).hexdigest(),
        }


def source_df(spark, n_files: int = 200, seed: int = 42, include_demo_corpora: bool = False):
    from pawpaw_spark.schemas import SOURCE_SCHEMA

    rows = list(generate_rows(n_files, seed, include_demo_corpora))
    return spark.createDataFrame(rows, schema=SOURCE_SCHEMA)
