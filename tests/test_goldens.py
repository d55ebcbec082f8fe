"""Golden digest pins for the rows-only driver queries.

The driver's correctness gate records only row counts for queries with
no SQL oracle (pandas-UDF signatures, LSH, iterative CC, plans,
media), so a silent semantic change could ride a green gate.  These
tests pin a sha256 over the full sorted canonical rendering of each
query's sf0.001 output; any drift fails loudly.

Regenerate after an INTENTIONAL semantic change with:
    SPARK_GRAFT_REGEN_GOLDENS=1 python -m pytest tests/test_goldens.py
then commit the updated tests/goldens/rows_only_digests.json alongside
the change that caused it.
"""

import hashlib
import json
import math
import os

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
GOLDEN_PATH = os.path.join(
    os.path.dirname(__file__), "goldens", "rows_only_digests.json"
)
PINNED = [
    "minhash_signatures",
    "lsh_candidates",
    "near_dup_clusters",
    "action_plan",
    "media_features",
]


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "asDict"):  # nested Row
        d = v.asDict()
        return "{" + ",".join(f"{k}:{_canon(d[k])}" for k in sorted(d)) + "}"
    return str(v)


def _digest(df) -> str:
    cols = sorted(df.columns)
    rows = sorted("|".join(_canon(r[c]) for c in cols) for r in df.collect())
    return hashlib.sha256(("\n".join(rows)).encode()).hexdigest()


@pytest.mark.parametrize("name", PINNED)
def test_rows_only_digest_pinned(spark, name):
    got = _digest(entry_mod.queries()[name](spark, SF_DIR))
    if os.environ.get("SPARK_GRAFT_REGEN_GOLDENS") == "1":
        data = {}
        if os.path.exists(GOLDEN_PATH):
            with open(GOLDEN_PATH) as f:
                data = json.load(f)
        data[name] = got
        os.makedirs(os.path.dirname(GOLDEN_PATH), exist_ok=True)
        with open(GOLDEN_PATH, "w") as f:
            json.dump(data, f, indent=2, sort_keys=True)
        pytest.skip(f"regenerated golden for {name}")
    assert os.path.exists(GOLDEN_PATH), (
        "no goldens recorded yet — run with SPARK_GRAFT_REGEN_GOLDENS=1"
    )
    with open(GOLDEN_PATH) as f:
        want = json.load(f)[name]
    assert got == want, (
        f"{name}: output drifted from pinned golden — if the semantic "
        f"change is intentional, regenerate with SPARK_GRAFT_REGEN_GOLDENS=1"
    )


def test_every_query_is_checked_once():
    """Each driver query is checked by exactly one gate: a DuckDB twin in
    ``oracle_sql()`` or a pinned digest here, and the golden file holds
    exactly the pinned queries.  Catches an unchecked query or a stale
    golden key left behind when a query is added or deleted."""
    names = set(entry_mod.queries())
    twins, pinned = set(entry_mod.oracle_sql()), set(PINNED)
    assert not twins & pinned, f"both twin and golden: {sorted(twins & pinned)}"
    assert names == twins | pinned, (
        f"unchecked: {sorted(names - twins - pinned)}; "
        f"not a query: {sorted((twins | pinned) - names)}"
    )
    with open(GOLDEN_PATH) as f:
        assert set(json.load(f)) == pinned
