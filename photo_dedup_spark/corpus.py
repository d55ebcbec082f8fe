"""Deterministic synthetic source-code corpus with planted duplicates.

Mirrors the reference's fixture strategy — seeded synthetic inputs with
known duplicate structure (/root/reference/tests/test_core.py:1699-1711
builds seeded gradient images; 341-353 builds same-content text files) —
transplanted to the ``(repo, path, commit, lang, content)`` payload of
BASELINE.json ``input_hint`` and the plant list of FIXTURES.md §1:

  unique bases, exact copies, normalized-equal copies (CRLF/trailing-ws),
  near-duplicates (comment insertion / identifier rename / hunk edits),
  containment cases (truncation, vendoring), negative near-misses,
  license-boilerplate skew (hot LSH buckets), the A≈B≈C chain, the
  merge-via-rep quartet, and degenerate rows (empty / oversize / NULL).

Every row carries a provenance label in the ``expected_clusters``
sidecar so dup-pair recall is computable.  seed=42, no external data.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

LANGS = ["py", "java", "c", "js", "txt"]

_IDENTS = (
    "parse build index table cursor buffer stream handler config value "
    "token worker result batch merge reduce offset shard record schema "
    "writer reader column filter window queue node edge graph label"
).split()

_LICENSE = (
    "# Licensed under the Apache License, Version 2.0 (the License);\n"
    "# you may not use this file except in compliance with the License.\n"
    "# You may obtain a copy of the License at\n"
    "#     http://www.apache.org/licenses/LICENSE-2.0\n"
    "# Unless required by applicable law or agreed to in writing, software\n"
    "# distributed under the License is distributed on an AS IS BASIS,\n"
    "# WITHOUT WARRANTIES OR CONDITIONS OF ANY KIND, either express or implied.\n"
)

_LEFTPAD = (
    "function leftPad(str, len, ch) {\n"
    "  str = String(str);\n"
    "  var i = -1;\n"
    "  if (!ch && ch !== 0) ch = ' ';\n"
    "  len = len - str.length;\n"
    "  while (++i < len) {\n"
    "    str = ch + str;\n"
    "  }\n"
    "  return str;\n"
    "}\n"
    "module.exports = leftPad;\n"
)


@dataclass
class CorpusRow:
    repo: str
    path: str
    commit: str
    lang: str
    content: str | None
    expected_cluster: str
    dup_kind: str


def _commit_of(repo: str, path: str) -> str:
    return hashlib.sha1(f"{repo}:{path}".encode()).hexdigest()


def _base_file(rng: random.Random, idx: int, lang: str, n_funcs: int | None = None) -> str:
    """A seeded pseudo source file: functions with bodies of statements."""
    n_funcs = n_funcs or rng.randint(3, 10)
    parts = []
    for f in range(n_funcs):
        name = f"{rng.choice(_IDENTS)}_{idx}_{f}"
        args = ", ".join(rng.sample(_IDENTS, rng.randint(1, 3)))
        parts.append(f"def {name}({args}):")
        for _ in range(rng.randint(3, 12)):
            a, b, c = rng.choice(_IDENTS), rng.choice(_IDENTS), rng.randint(0, 999)
            parts.append(f"    {a} = {b}_{c} + {rng.choice(_IDENTS)}[{c % 7}]")
        parts.append(f"    return {rng.choice(_IDENTS)}")
        parts.append("")
    return "\n".join(parts) + "\n"


def _perturb_near(rng: random.Random, text: str) -> str:
    """Comment insertion + small identifier rename — Jaccard ≥ ~0.7."""
    lines = text.split("\n")
    out = []
    renames = {}
    victims = rng.sample(_IDENTS, max(1, len(_IDENTS) // 12))
    for v in victims:
        renames[v] = v + "_r"
    for i, ln in enumerate(lines):
        if rng.random() < 0.04:
            out.append(f"    # note {rng.randint(0, 99)} inserted")
        for old, new in renames.items():
            if rng.random() < 0.5:
                ln = ln.replace(f" {old} ", f" {new} ")
        out.append(ln)
    return "\n".join(out)


def _normalize_variant(text: str) -> str:
    """CRLF + trailing-whitespace variant (normalized-equal)."""
    return text.replace("\n", "  \r\n") + "\n\n  "


def generate_corpus(n_bases: int = 120, seed: int = 42) -> list[CorpusRow]:
    rng = random.Random(seed)
    rows: list[CorpusRow] = []
    cluster_seq = 0

    def emit(repo, path, lang, content, cluster, kind):
        rows.append(
            CorpusRow(repo, path, _commit_of(repo, path), lang, content, cluster, kind)
        )

    def new_cluster() -> str:
        nonlocal cluster_seq
        cluster_seq += 1
        return f"c{cluster_seq:05d}"

    for i in range(n_bases):
        lang = rng.choice(LANGS)
        repo = f"org{i % 7}/project{i % 13}"
        base = _base_file(rng, i, lang)
        boiler = rng.random() < 0.25  # boilerplate skew (FIXTURES.md §1.7)
        if boiler:
            base = _LICENSE + base
        cl = new_cluster()
        emit(repo, f"src/mod_{i}.{lang}", lang, base, cl, "unique")

        r = rng.random()
        if r < 0.25:  # exact copies
            for j in range(rng.randint(1, 3)):
                emit(f"fork{j}/of{i % 5}", f"src/mod_{i}_copy{j}.{lang}", lang, base, cl, "exact")
        elif r < 0.40:  # normalized-equal copies
            emit(f"mirror/of{i % 5}", f"src/mod_{i}_crlf.{lang}", lang, _normalize_variant(base), cl, "normalized")
        elif r < 0.62:  # near duplicates
            for j in range(rng.randint(1, 2)):
                emit(f"near{j}/of{i % 5}", f"src/mod_{i}_v{j + 2}.{lang}", lang, _perturb_near(rng, base), cl, "near")
        elif r < 0.72:  # containment: truncation + vendoring
            cut = int(len(base) * rng.uniform(0.72, 0.9))
            nl = base.rfind("\n", 0, cut)
            emit(f"trunc/of{i % 5}", f"src/mod_{i}_part.{lang}", lang, base[: nl + 1], cl, "contained")
            if rng.random() < 0.5:
                vendored = _base_file(rng, 10_000 + i, lang, 2) + "\n" + base
                emit(f"vendor/of{i % 5}", f"third_party/mod_{i}.{lang}", lang, vendored, cl, "contained")
        elif r < 0.80:  # negative near-miss: same template family, low overlap
            miss = _base_file(rng, i, lang)  # fresh draw, same generator
            emit(f"miss/of{i % 5}", f"src/mod_{i}_other.{lang}", lang, (_LICENSE if boiler else "") + miss, new_cluster(), "unique")

    # vendored leftpad into many repos (hot bucket / exact cluster)
    lp = new_cluster()
    for j in range(12):
        emit(f"app{j}/web", "vendor/leftpad.js", "js", _LEFTPAD, lp, "exact" if j else "unique")

    # boilerplate family: a large shared core + tiny unique tail per file.
    # These are near-identical but NOT equal, so every one survives exact
    # collapse and lands in the same LSH band buckets — the hot-bucket
    # skew (license boilerplate / scaffolded files) the north rule makes
    # us salt explicitly (FIXTURES.md §1.7).
    core = _LICENSE + _base_file(random.Random(seed + 20), 80_000, "py", 14)
    bp = new_cluster()
    for j in range(30):
        tail = f"\nSCAFFOLD_ID = {j}\n"
        emit(f"scaffold{j % 6}/gen", f"gen/boiler_{j}.py", "py", core + tail, bp, "near" if j else "unique")

    # chain case: A≈B, B≈C, A≉C (FIXTURES.md §1.8) — built from 10
    # equal-size code chunks with chunk-DISJOINT identifier vocabularies
    # (so char shingles barely cross chunks), windows of 8 shifted by
    # one: |A∩B|/|A∪B| = 7/9 ≈ 0.78 ≥ τ=0.7, |A∩C|/|A∪C| = 6/10 = 0.60
    # < τ, containment(A,C) = 6/8 = 0.75 < τ_c=0.9 — both chain edges
    # verify, the skip edge doesn't, with ≥4σ margin vs 512-sketch noise
    rngc = random.Random(seed + 7)

    def _chain_chunk(j: int) -> str:
        parts = []
        for f in range(2):
            parts.append(f"def ch{j}_fn_{f}(ch{j}_arg):")
            for s in range(8):
                parts.append(
                    f"    ch{j}_v{s} = ch{j}_t{rngc.randint(0, 999)}"
                    f" + ch{j}_w[{s}]"
                )
            parts.append(f"    return ch{j}_v0")
            parts.append("")
        return "\n".join(parts) + "\n"

    chunks = [_chain_chunk(i) for i in range(10)]
    a = "".join(chunks[0:8])
    b = "".join(chunks[1:9])
    c = "".join(chunks[2:10])
    chain = new_cluster()
    emit("chain/x", "a.py", "py", a, chain, "near")
    emit("chain/x", "b.py", "py", b, chain, "near")
    emit("chain/x", "c.py", "py", c, chain, "near")

    # merge-via-rep quartet: two exact groups linked by a near pair
    # (FIXTURES.md §1.9; reference tests/test_core.py:1884-1912)
    m = _base_file(random.Random(seed + 9), 90_010, "java", 9)
    m_near = _perturb_near(random.Random(seed + 10), m)
    quartet = new_cluster()
    emit("merge/hi", "lib/big.java", "java", m, quartet, "near")
    emit("merge/hi2", "lib/big_copy.java", "java", m, quartet, "exact")
    emit("merge/lo", "lib/big_v2.java", "java", m_near, quartet, "near")
    emit("merge/lo2", "lib/big_v2_copy.java", "java", m_near, quartet, "exact")

    # degenerate rows (FIXTURES.md §1.10)
    emit("edge/e", "empty.txt", "txt", "", new_cluster(), "unique")
    emit("edge/e", "oneline.txt", "txt", "x = 1", new_cluster(), "unique")
    big_cl = new_cluster()
    oversize = ("A" * 100 + "\n") * 25_000  # > 2 MiB cap with default test cap
    emit("edge/big", "huge1.txt", "txt", oversize, big_cl, "unique")
    emit("edge/big", "huge2.txt", "txt", oversize, big_cl, "exact")
    emit("edge/null", "null.txt", "txt", None, new_cluster(), "unique")

    return rows


def corpus_to_tuples(rows: list[CorpusRow]):
    files = [(r.repo, r.path, r.commit, r.lang, r.content) for r in rows]
    expected = [
        (
            r.repo,
            r.path,
            r.commit,
            None if r.content is None else hashlib.sha256(r.content.encode()).hexdigest(),
            r.expected_cluster,
            r.dup_kind,
        )
        for r in rows
    ]
    return files, expected


FILES_SCHEMA = "repo string, path string, commit string, lang string, content string"
