"""Replicates the driver's correctness gate locally: every queries()
entry with an oracle_sql() twin must match DuckDB on sf0.001 —
row count, column names, and order-insensitive value hash.
"""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["events", "documents"]


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


# independent referee for the PPJoin prefix filter: the FULL
# inverted-index self-join (no prefix) thresholded at the same τ —
# shares only the corpus construction, not the prefix logic
_PPJOIN_FULL_REFEREE = """
WITH src_docs AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
), aug AS (
  SELECT doc_id, text FROM src_docs
  UNION ALL
  SELECT doc_id + 1000000000,
         substr(text, 1, CAST(floor(length(text) * 0.8) AS INT))
  FROM src_docs WHERE doc_id % 13 = 0
), tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM aug WHERE length(trim(text)) > 0
), ex AS (
  SELECT doc_id,
         unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS gram
  FROM tk WHERE len(t) >= 3
), kept AS (
  SELECT * FROM ex QUALIFY COUNT(*) OVER (PARTITION BY gram) <= 1000
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS inter_cnt
  FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.src, i.dst,
       CAST(i.inter_cnt AS BIGINT) AS inter_cnt,
       CAST(sa.sz + sb.sz - i.inter_cnt AS BIGINT) AS union_cnt,
       (SELECT COUNT(*) FROM inter) AS full_candidates
FROM inter i JOIN sizes sa ON i.src = sa.doc_id JOIN sizes sb ON i.dst = sb.doc_id
WHERE i.inter_cnt * 10 >= (sa.sz + sb.sz - i.inter_cnt) * 7
"""


class TestPPJoinPrefixFilter:
    def test_complete_vs_full_join_and_candidate_reduction(self, spark, duck):
        # (a) completeness: PPJoin must return EXACTLY the pairs the
        # unfiltered inverted-index join finds above τ — the prefix
        # filter may only prune candidates that cannot reach τ
        got = {
            (r.src, r.dst, r.inter_cnt, r.union_cnt)
            for r in entry_mod.queries()["ppjoin_pairs"](spark, SF_DIR).collect()
        }
        ref_rows = duck.execute(_PPJOIN_FULL_REFEREE).fetchall()
        want = {(r[0], r[1], r[2], r[3]) for r in ref_rows}
        assert got == want
        assert len(got) > 10, "de-vacuation failed: no planted pairs above τ"
        # (b) the point of PPJoin: prefix candidates ≪ full candidates
        full_cand = ref_rows[0][4] if ref_rows else 0
        prefix_cand = duck.execute(
            "WITH "
            + entry_mod.SQL_PPJOIN_PAIRS.split("WITH", 1)[1].split("), inter")[0]
            + ") SELECT COUNT(*) FROM cand"
        ).fetchone()[0]
        reduction = full_cand / max(prefix_cand, 1)
        print(
            f"\nppjoin candidate reduction: full={full_cand} "
            f"prefix={prefix_cand} ({reduction:.1f}x fewer)"
        )
        assert prefix_cand < full_cand


def test_all_queries_run_and_nonempty(spark):
    # rows-only entries at least execute and return a stable schema
    for name, q in entry_mod.queries().items():
        if name in ("near_dup_clusters", "action_plan"):
            continue  # covered by dedicated pipeline tests (slow)
        df = q(spark, SF_DIR)
        assert df.columns, name
        df.limit(5).collect()
