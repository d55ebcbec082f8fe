"""Seeded planted corpus, generated outside the program.

Rows come from the engine's own bench-corpus row builder
(``benchcorpus._rows_for_base``): per base id a ~8 KB source file, with
15% exact copies (repo ``fork*``), 10% near variants (``near*``), 5%
truncations (``trunc*``), 25% license-prefixed bases, and optionally one
drifting-chain member (``boiler/chain``) every ``chain_every`` bases.
The seed offsets the base-id range, so each seed is a different corpus
and the same seed is the same corpus.  The program receives only the
parquet file written here.

The seed picks which files a corpus holds, not how many of each kind:
base ids are taken in order from the seed's range while their kind
(copy, near, truncation or none; license prefix or not) still has room
in fixed quotas.  Left to chance, the number of planted duplicates, and
with it the row count and the report's size, moved by several percent
from seed to seed.

The chain is the one thing every seed shares: its members are those of
base ids ``[0, n_bases)``.  The distributed connected-components loop
needs 8 rounds for some chains and 12 for others, depending on how the
members' doc_id hashes order along the chain; a chain that moved with
the seed made run time jump by half between seeds.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from photo_dedup_spark.benchcorpus import _rows_for_base
from photo_dedup_spark.corpus import _LICENSE
from photo_dedup_spark.functions.keys import norm_key_py

COLUMNS = ["repo", "path", "commit", "lang", "content"]
SIZE_FUNCS = 18  # ~8 KB per base file, the bench-corpus default
SEED_STRIDE = 1_000_000  # the base ids of seed s start at s * stride
# share of bases per planted kind, as _rows_for_base draws them
_KIND_SHARES = {"fork": 0.15, "near": 0.10, "trunc": 0.05, "": 0.70}
_LICENSE_SHARE = 0.25

_BASE_ID = re.compile(r"mod_(\d+)")
_ROLES = {"org": "base", "fork": "copy", "near": "near", "trunc": "trunc"}


def _quotas(n_bases: int) -> dict[tuple[str, bool], int]:
    quotas = {
        (kind, licensed): round(
            n_bases * share * (_LICENSE_SHARE if licensed else 1 - _LICENSE_SHARE)
        )
        for kind, share in _KIND_SHARES.items()
        for licensed in (True, False)
    }
    quotas[("", False)] += n_bases - sum(quotas.values())
    return quotas


def _kind(base_rows: list[tuple]) -> tuple[str, bool]:
    # the planted row's repo is "<kind><n>/of"
    planted = base_rows[1][0].split("/")[0].rstrip("0123456789") if len(base_rows) > 1 else ""
    return planted, base_rows[0][4].startswith(_LICENSE)


def corpus_rows(seed: int, n_bases: int, chain_every: int = 0) -> list[tuple]:
    left = _quotas(n_bases)
    rows: list[tuple] = []
    i = seed * SEED_STRIDE
    while any(left.values()):
        base_rows = _rows_for_base(i, SIZE_FUNCS)
        kind = _kind(base_rows)
        if left[kind]:
            left[kind] -= 1
            rows.extend(base_rows)
        i += 1
    if chain_every:
        for i in range(0, n_bases, chain_every):
            rows.extend(
                r for r in _rows_for_base(i, SIZE_FUNCS, chain_every) if r[0] == "boiler/chain"
            )
    return rows


def write_corpus(rows: list[tuple], path: str) -> None:
    table = pa.Table.from_pandas(
        pd.DataFrame(rows, columns=COLUMNS), preserve_index=False
    )
    pq.write_table(table, path)


def role_of(repo: str) -> str:
    if repo == "boiler/chain":
        return "chain"
    for prefix, role in _ROLES.items():
        if repo.startswith(prefix):
            return role
    raise ValueError(f"unplanted repo {repo!r}")


@dataclass(frozen=True)
class Truth:
    """Planted ground truth, keyed by (repo, path) — unique per row."""

    table: pd.DataFrame  # repo, path, base (-1 for chain rows), role, norm_key
    content_bytes: int

    @classmethod
    def from_rows(cls, rows: list[tuple]) -> Truth:
        recs, n_bytes = [], 0
        for repo, path, _commit, _lang, content in rows:
            m = _BASE_ID.search(path)
            recs.append(
                (repo, path, int(m.group(1)) if m else -1, role_of(repo),
                 norm_key_py(content))
            )
            n_bytes += len(content.encode())
        table = pd.DataFrame(recs, columns=["repo", "path", "base", "role", "norm_key"])
        return cls(table, n_bytes)
