"""Replicates the driver's correctness gate locally: every queries()
entry with an oracle_sql() twin must match DuckDB on sf0.001 —
row count, column names, and order-insensitive value hash.
"""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["documents"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "|".join(_canon(r[i]) for i in order) for r in rows
    )


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s_hash = _rowset(spark_cols, spark_rows)
    d_hash = _rowset(duck_cols, duck_rows)
    mism = [i for i, (a, b) in enumerate(zip(s_hash, d_hash)) if a != b][:3]
    assert s_hash == d_hash, (
        f"{name}: value mismatch at sorted rows {mism}; "
        f"spark={[s_hash[i] for i in mism]} duck={[d_hash[i] for i in mism]}"
    )


def test_all_queries_run_and_nonempty(spark):
    # rows-only entries at least execute and return a stable schema
    for name, q in entry_mod.queries().items():
        if name in ("near_dup_clusters", "action_plan"):
            continue  # covered by dedicated pipeline tests (slow)
        df = q(spark, SF_DIR)
        assert df.columns, name
        df.limit(5).collect()
