"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship near-dup pipeline on sf0.001.
``queries()`` exposes one entry per implemented operator from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB twin for every
SQL-expressible one (non-SQL ops — signatures, LSH, CC — get
rows-only checks per the driver contract).

Column-name discipline: every computed column is aliased identically
in the Spark query and the SQL so the driver's order-insensitive
value-hash compares apples to apples.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from photo_dedup_spark.config import DedupConfig
from photo_dedup_spark.functions.keys import (
    exact_key_col,
    exact_key_sql,
    norm_key_col,
    norm_key_sql,
    partial_key_col,
    partial_key_sql,
)
from photo_dedup_spark.functions.naming import (
    is_meaningless,
    is_meaningless_sql,
    readability_score,
    readability_score_sql,
    valid_ymd_prefix,
    valid_ymd_prefix_sql,
)

# content cap sized so the sf testdata documents (all small) are in play
ENTRY_CONFIG = DedupConfig(salt_threshold=64, num_salts=8)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _wide(df: DataFrame) -> DataFrame:
    """Round-robin widen ahead of per-row-heavy stages: the sf parquet
    tables ship as a SINGLE row group, so their scans cannot exceed one
    task no matter the split planning — a pandas-UDF or regex pass
    downstream would run on 1 of 32 cores (guide §2.5 input skew).
    The exchange moves only the few-MB table; identical rows, and only
    applied in queries whose downstream work dwarfs it."""
    spark = df.sparkSession
    return df.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))


def _docs_as_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table reshaped to the (repo,path,commit,lang,content)
    input_hint contract."""
    d = _docs(spark, sf_dir)
    return d.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("docs/doc_"), F.col("doc_id").cast("string"), F.lit(".txt")).alias(
            "path"
        ),
        F.sha2(F.col("doc_id").cast("string"), 256).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dup pipeline on sf0.001 documents; returns
    the per-document cluster assignment with keep-selection."""
    from photo_dedup_spark.pipeline import run_pipeline

    files = _docs_as_files(spark, "/root/testdata/sf0.001")
    res = run_pipeline(spark, files, ENTRY_CONFIG, mode="hybrid", collect_metrics=False)
    return res.assignments.select(
        "doc_id", "repo", "path", "n_chars", "cluster_id", "rn", "is_keep"
    )


# ---------------------------------------------------------------------------
# oracle-checked queries (Spark + DuckDB SQL twins)
# ---------------------------------------------------------------------------

# -- dedup core on documents ------------------------------------------------

def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/A1: group by raw sha256, groups with >1 member (H1).

    The driver testdata has NO raw-exact duplicates at any sf, so the
    plain query is green-but-vacuous (0 vs 0 rows).  Both engines
    therefore run over ``documents UNION ALL`` a re-keyed projection of
    every 7th row — planting provably identical exact-dup groups so the
    hash gate checks real group rows (count/min/sum per sha key)."""
    d = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", "text", "n_chars")
    )
    extra = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000000).alias("doc_id"), "text", "n_chars"
    )
    return (
        d.unionByName(extra)
        .groupBy(exact_key_col(F.col("text")).alias("exact_key"))
        .agg(
            F.count("*").alias("member_count"),
            F.min("doc_id").alias("min_doc_id"),
            F.sum("n_chars").alias("total_chars"),
        )
        .where(F.col("member_count") > 1)
    )


SQL_EXACT_DUP_GROUPS = f"""
WITH u AS (
  SELECT doc_id, text, n_chars FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + 100000000, text, n_chars FROM documents
  WHERE text IS NOT NULL AND doc_id % 7 = 0
)
SELECT {exact_key_sql('text')} AS exact_key,
       COUNT(*) AS member_count,
       MIN(doc_id) AS min_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM u
GROUP BY 1 HAVING COUNT(*) > 1
"""


def q_normalized_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3/H4: raw vs normalized key per row — the pixel-hash analog."""
    d = _wide(_docs(spark, sf_dir).where(F.col("text").isNotNull()))
    return d.select(
        "doc_id",
        exact_key_col(F.col("text")).alias("exact_key"),
        norm_key_col(F.col("text")).alias("norm_key"),
    )


SQL_NORMALIZED_KEYS = f"""
SELECT doc_id,
       {exact_key_sql('text')} AS exact_key,
       {norm_key_sql('text')} AS norm_key
FROM documents WHERE text IS NOT NULL
"""


def q_partial_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2/J2: staged partial key (head+len+tail) per row."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return d.select("doc_id", partial_key_col(F.col("text")).alias("partial_key"))


SQL_PARTIAL_KEYS = f"""
SELECT doc_id, {partial_key_sql('text')} AS partial_key
FROM documents WHERE text IS NOT NULL
"""


def q_size_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: size-blocking prefilter — rows whose n_chars collides."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    hot = (
        d.groupBy("n_chars").agg(F.count("*").alias("n")).where(F.col("n") > 1)
    ).select("n_chars")
    return (
        d.join(F.broadcast(hot), "n_chars", "left_semi")
        .select("doc_id", "n_chars")
    )


SQL_SIZE_BLOCKING = """
SELECT doc_id, n_chars FROM documents
WHERE text IS NOT NULL AND n_chars IN (
  SELECT n_chars FROM documents WHERE text IS NOT NULL
  GROUP BY n_chars HAVING COUNT(*) > 1
)
"""


def q_keep_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: deterministic keep-window over normalized-key groups
    (size desc, path asc — scanner.py:713-714)."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    keyed = d.select(
        "doc_id",
        norm_key_col(F.col("text")).alias("norm_key"),
        "n_chars",
        F.concat(F.lit("docs/doc_"), F.col("doc_id").cast("string"), F.lit(".txt")).alias(
            "path"
        ),
    )
    w = Window.partitionBy("norm_key").orderBy(
        F.desc("n_chars"), F.asc("path")
    )
    return keyed.select(
        "doc_id",
        "norm_key",
        F.row_number().over(w).alias("rn"),
        (F.row_number().over(w) == 1).alias("is_keep"),
    )


SQL_KEEP_SELECTION = f"""
WITH keyed AS (
  SELECT doc_id, {norm_key_sql('text')} AS norm_key, n_chars,
         'docs/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS path
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, norm_key,
       ROW_NUMBER() OVER (PARTITION BY norm_key ORDER BY n_chars DESC, path ASC) AS rn,
       (ROW_NUMBER() OVER (PARTITION BY norm_key ORDER BY n_chars DESC, path ASC) = 1) AS is_keep
FROM keyed
"""


def q_dup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/S4: summary aggregates over normalized-key groups."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    keyed = d.select(norm_key_col(F.col("text")).alias("norm_key"), "n_chars")
    w = Window.partitionBy("norm_key").orderBy(F.desc("n_chars"))
    sel = keyed.withColumn("rn", F.row_number().over(w))
    return sel.agg(
        F.count("*").alias("total_files"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("duplicate_files"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0)).alias(
            "space_saveable"
        ),
        F.countDistinct("norm_key").alias("distinct_contents"),
    )


SQL_DUP_SUMMARY = f"""
WITH keyed AS (
  SELECT {norm_key_sql('text')} AS norm_key, n_chars,
         ROW_NUMBER() OVER (PARTITION BY {norm_key_sql('text')} ORDER BY n_chars DESC) AS rn
  FROM documents WHERE text IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS total_files,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS duplicate_files,
       CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS space_saveable,
       CAST(COUNT(DISTINCT norm_key) AS BIGINT) AS distinct_contents
FROM keyed
"""


def q_unmatched_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: rows NOT in any exact-dup group (left_anti) — the
    'remaining' set of the hybrid stage (scanner.py:557-560)."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    keyed = d.select("doc_id", exact_key_col(F.col("text")).alias("k"))
    dup_keys = keyed.groupBy("k").count().where(F.col("count") > 1).select("k")
    return keyed.join(dup_keys, "k", "left_anti").select("doc_id")


SQL_UNMATCHED_ANTI = f"""
WITH keyed AS (
  SELECT doc_id, {exact_key_sql('text')} AS k FROM documents WHERE text IS NOT NULL
)
SELECT doc_id FROM keyed
WHERE k NOT IN (SELECT k FROM keyed GROUP BY k HAVING COUNT(*) > 1)
"""


def q_group_report_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/P3: groups (by n_chars-bucket as a stand-in key) ordered by
    member count desc with a deterministic tie-break, top 20."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    g = d.groupBy(F.col("lang").alias("group_key")).agg(
        F.count("*").alias("member_count"),
        F.min("doc_id").alias("min_doc_id"),
    )
    return g.orderBy(F.desc("member_count"), F.asc("group_key")).limit(20)


SQL_GROUP_REPORT_ORDER = """
SELECT lang AS group_key, COUNT(*) AS member_count, MIN(doc_id) AS min_doc_id
FROM documents WHERE text IS NOT NULL
GROUP BY lang ORDER BY member_count DESC, group_key ASC LIMIT 20
"""


# -- naming / scoring (F1-F4, A4) -------------------------------------------

def _synthetic_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic filename fixtures derived from doc_id — exercises
    every branch of the naming truth table (naming.py:31-144)."""
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    name = (
        F.when(F.col("doc_id") % 6 == 0, F.concat(F.lit("159"), (F.col("doc_id") * 7919 % 10000000).cast("string")))
        .when(F.col("doc_id") % 6 == 1, F.concat(F.lit("IMG_"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 6 == 2, F.concat(F.lit("2021-03-0"), ((F.col("doc_id") % 9) + 1).cast("string"), F.lit("_holiday")))
        .when(F.col("doc_id") % 6 == 3, F.col("doc_id").cast("string"))
        .when(F.col("doc_id") % 6 == 4, F.concat(F.lit("notes_meeting (" ), (F.col("doc_id") % 5).cast("string"), F.lit(")")))
        .otherwise(F.concat(F.lit("report_final_"), F.col("lang")))
    )
    return d.select("doc_id", F.concat(name, F.lit(".txt")).alias("fname"))


_SQL_NAMES_CTE = """
WITH named AS (
  SELECT doc_id,
         (CASE
            WHEN doc_id % 6 = 0 THEN '159' || CAST(doc_id * 7919 % 10000000 AS VARCHAR)
            WHEN doc_id % 6 = 1 THEN 'IMG_' || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 6 = 2 THEN '2021-03-0' || CAST((doc_id % 9) + 1 AS VARCHAR) || '_holiday'
            WHEN doc_id % 6 = 3 THEN CAST(doc_id AS VARCHAR)
            WHEN doc_id % 6 = 4 THEN 'notes_meeting (' || CAST(doc_id % 5 AS VARCHAR) || ')'
            ELSE 'report_final_' || lang
          END) || '.txt' AS fname
  FROM documents
)
"""


def q_name_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F4: meaningless classifier + readability score (×100 int)
    + validated date prefix, per synthetic name."""
    n = _synthetic_names(spark, sf_dir)
    return n.select(
        "doc_id",
        is_meaningless(F.col("fname")).alias("meaningless"),
        readability_score(F.col("fname")).cast("long").alias("score_x100"),
        valid_ymd_prefix(F.col("fname")).alias("ymd_prefix"),
    )


SQL_NAME_SCORES = (
    _SQL_NAMES_CTE
    + f"""
SELECT doc_id,
       {is_meaningless_sql('fname')} AS meaningless,
       CAST({readability_score_sql('fname')} AS BIGINT) AS score_x100,
       {valid_ymd_prefix_sql('fname')} AS ymd_prefix
FROM named
"""
)


def q_best_name_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/F3: per group (doc_id % 20) pick the best-scoring name —
    ties by name desc, the reference's max() semantics."""
    n = _synthetic_names(spark, sf_dir).withColumn(
        "grp", (F.col("doc_id") % 20).cast("long")
    )
    scored = n.withColumn("score", readability_score(F.col("fname")).cast("long"))
    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.desc("fname"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("grp", F.col("fname").alias("best_name"), "score")
    )


SQL_BEST_NAME_ARGMAX = (
    _SQL_NAMES_CTE
    + f"""
, scored AS (
  SELECT doc_id % 20 AS grp, fname,
         CAST({readability_score_sql('fname')} AS BIGINT) AS score
  FROM named
)
SELECT grp, fname AS best_name, score FROM (
  SELECT grp, fname, score,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY score DESC, fname DESC) AS rn
  FROM scored
) WHERE rn = 1
"""
)


def q_rename_conflict_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: conflict suffixing as a rank — files colliding on a target
    stem get _0.._n suffixes (metadata.py:143-177 set-loop → window)."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    target = d.select(
        "doc_id", F.col("lang").alias("stem"), (F.col("doc_id") % 3).alias("bucket")
    )
    w = Window.partitionBy("stem", "bucket").orderBy("doc_id")
    rn = F.row_number().over(w)
    return target.select(
        "doc_id",
        F.when(rn == 1, F.concat_ws("_", F.col("stem"), F.col("bucket").cast("string")))
        .otherwise(
            F.concat_ws(
                "_", F.col("stem"), F.col("bucket").cast("string"), (rn - 2).cast("string")
            )
        )
        .alias("final_name"),
    )


SQL_RENAME_CONFLICT_RANK = """
WITH t AS (
  SELECT doc_id, lang AS stem, doc_id % 3 AS bucket,
         ROW_NUMBER() OVER (PARTITION BY lang, doc_id % 3 ORDER BY doc_id) AS rn
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CASE WHEN rn = 1 THEN stem || '_' || CAST(bucket AS VARCHAR)
            ELSE stem || '_' || CAST(bucket AS VARCHAR) || '_' || CAST(rn - 2 AS VARCHAR)
       END AS final_name
FROM t
"""


# -- strict re-split, substring containment, key dispatch ---------------------

def q_strict_resplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 strict-verify re-split: normalized-key clusters split by raw
    sha256 into byte-identical subgroups (scanner.py:645-695); the
    composite key mirrors the reference's ``h::verify2`` suffixing."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        F.concat_ws(
            "::",
            norm_key_col(F.col("text")),
            exact_key_col(F.col("text")),
        ).alias("strict_cluster"),
    )


SQL_STRICT_RESPLIT = f"""
SELECT doc_id,
       {norm_key_sql('text')} || '::' || {exact_key_sql('text')} AS strict_cluster
FROM documents WHERE text IS NOT NULL
"""


# grams occurring in more docs than this are dropped from
# q_substring_pairs' candidate index ON BOTH ENGINES (bar the rescue
# grams below) — identical semantics, and one gram's posting join can
# never produce more than _NGRAM_DF_CAP² rows, so no boilerplate gram
# turns the inverted index into a cartesian bomb
_NGRAM_DF_CAP = 1000

# secondary cap for substring-containment rescue grams (each doc's
# lowest-df gram stays indexed up to this df — see q_substring_pairs)
_RESCUE_DF_CAP = 20_000


def q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring containment (the north rule's "suffix-array
    substring" leg, literal form): find (small, big) pairs where
    small's text occurs verbatim inside big's.

    Spark-native physical strategy: candidates come from the df-capped
    inverted 3-gram index (a substring's interior grams are a subset of
    its container's, so any true pair shares a rare gram), then each
    candidate is verified EXACTLY by a size-tiered leg
    (:func:`verify_substring_candidates`): JVM-side codegen'd ``instr``
    for source-file-sized containers, and a REAL per-container suffix
    array (numpy prefix doubling, one SA amortized over all of a
    container's candidates — functions/suffixarray.py) past
    ``_SA_MIN_CONTAINER_CHARS``, where multi-MB docs attracting many
    candidates make per-pair scanning quadratic-ish.  Both legs verify
    the identical relation; parity is pytest-gated.
    The sketch-containment verifier in the flagship pipeline
    (operators/verify.py) is the sampled production form of the same
    rule; this operator is its exact referee.

    Candidate completeness (ADVICE r3): the df cap alone can miss a
    true pair whose shared grams are ALL high-df boilerplate, so each
    document's single lowest-df gram (ties: lexicographically first)
    is ALWAYS indexed — for itself and for every other document
    containing it — up to a secondary cap ``_RESCUE_DF_CAP``.  Any
    true (small ⊂ big) pair shares every gram of small, in particular
    small's min-df gram, so the pair is proposed whenever that gram's
    df ≤ _RESCUE_DF_CAP.  The one remaining (documented) recall bound:
    a small doc whose LEAST-common gram still has df > _RESCUE_DF_CAP
    — at that point the posting join would be quadratic in df, which
    is the cartesian bomb the caps exist to prevent.  Oracle shares
    the construction, so the parity gate checks the same semantics.

    De-vacuation: every 11th document plants a middle-60% slice of
    itself (integer arithmetic, identical in both engines) so true
    substring pairs exist at every sf."""
    d = _docs(spark, sf_dir).where(
        F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 40)
    )
    base = d.select("doc_id", "text")
    planted = base.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + F.lit(2_000_000_000)).alias("doc_id"),
        F.expr(
            "substring(text, (length(text)*2 div 10) + 1, length(text)*6 div 10)"
        ).alias("text"),
    )
    aug = base.unionByName(planted).where(F.length("text") > 20)
    toks = aug.select(
        "doc_id",
        F.length("text").alias("n"),
        F.split(F.trim(F.col("text")), r"\s+").alias("t"),
    ).where(F.size("t") >= 3)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 3),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("t", i + 1),
                        F.element_at("t", i + 2),
                        F.element_at("t", i + 3),
                    ),
                )
            )
        ).alias("gram"),
    )
    dfc = grams.groupBy("gram").agg(F.count("*").alias("df"))
    gd = grams.join(dfc, "gram")
    # rescue grams: each doc's lowest-df gram, indexed for ALL docs
    # containing it (see docstring) — map-side-combining min(struct)
    rescue = (
        gd.groupBy("doc_id")
        .agg(F.min(F.struct("df", "gram")).alias("m"))
        .select(F.col("m.gram").alias("gram"))
        .distinct()
        .withColumn("_rescued", F.lit(True))
    )
    kept = (
        gd.join(rescue, "gram", "left")
        .where(
            (F.col("df") <= _NGRAM_DF_CAP)
            | (F.col("_rescued").isNotNull() & (F.col("df") <= _RESCUE_DF_CAP))
        )
        .select("doc_id", "gram", "df")
    )
    # Round-6 rework, identical output: candidates come from each doc's
    # THREE rarest kept grams (min (df, gram), deterministic) probed
    # into the index, not the full index self-join (Σ C(df,2) pair
    # explosion — the old candidate stage dominated the query's 97 s at
    # bench sf1.0).  Completeness for true pairs: s ⊂ b implies every
    # INTERIOR gram of s is a gram of b (only s's two boundary grams
    # can fuse with b's surrounding tokens), at most two distinct gram
    # strings of s occur exclusively at its boundaries, so among s's 3
    # rarest distinct kept grams at least one is interior (docs with
    # < 3 kept grams probe with all of them); kept-ness is a gram-level
    # (global df / rescue) condition, so a gram kept for s is kept for
    # b too.  Pairs the wide join proposed beyond these are non-pairs
    # the exact ``instr``/suffix-array verification rejected anyway —
    # the verified output is unchanged.
    wp = Window.partitionBy("doc_id").orderBy("df", "gram")
    probes = (
        kept.withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") <= 3)
        .select("doc_id", "gram")
    )
    lens = aug.select("doc_id", F.length("text").alias("n"))
    cand0 = (
        probes.alias("a")
        .join(
            kept.alias("b"),
            on=[
                F.col("a.gram") == F.col("b.gram"),
                F.col("a.doc_id") != F.col("b.doc_id"),
            ],
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("p1"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("p2"),
        )
        .distinct()
    )
    l1 = lens.select(F.col("doc_id").alias("p1"), F.col("n").alias("n1"))
    l2 = lens.select(F.col("doc_id").alias("p2"), F.col("n").alias("n2"))
    cand = (
        cand0.join(l1, "p1")
        .join(l2, "p2")
        .where(F.col("n1") != F.col("n2"))
        .select(
            F.when(F.col("n1") < F.col("n2"), F.col("p1"))
            .otherwise(F.col("p2"))
            .alias("small_id"),
            F.when(F.col("n1") < F.col("n2"), F.col("p2"))
            .otherwise(F.col("p1"))
            .alias("big_id"),
            F.least(F.col("n1"), F.col("n2")).alias("small_len"),
            F.greatest(F.col("n1"), F.col("n2")).alias("big_len"),
        )
    )
    ta = aug.select(F.col("doc_id").alias("small_id"), F.col("text").alias("text_a"))
    tb = aug.select(F.col("doc_id").alias("big_id"), F.col("text").alias("text_b"))
    joined = (
        cand.join(ta, "small_id")
        .join(tb, "big_id")
        .select(
            "small_id",
            "big_id",
            "text_a",
            "text_b",
            F.col("small_len").cast("long").alias("small_len"),
            F.col("big_len").cast("long").alias("big_len"),
        )
    )
    return verify_substring_candidates(joined)


# Container size (chars) above which the verify leg switches from the
# codegen'd JVM instr scan (O(n·m) per pair, zero Python) to one
# suffix array per container amortized over its candidates
# (O(n log n) build + O(m log n) per pair) — the crossover where
# multi-MB docs attracting many candidates (vendored libs, license
# boilerplate) make per-pair scanning quadratic-ish.  sf payloads sit
# far below it, so the driver query runs pure-JVM; the SA leg is
# exercised (and parity-gated against instr) in tests/test_properties
# and tests/test_stages_sources.
_SA_MIN_CONTAINER_CHARS = 262_144


def verify_substring_candidates(
    joined: DataFrame, sa_min_chars: int = _SA_MIN_CONTAINER_CHARS
) -> DataFrame:
    """Exact substring verify, tiered by container size (see
    _SA_MIN_CONTAINER_CHARS).  Both legs implement the same relation —
    byte-level UTF-8 containment equals char-level containment because
    UTF-8 is self-synchronizing — and the parity test asserts their
    pair sets are identical on the same candidates."""
    from photo_dedup_spark.functions.suffixarray import verify_containment_sa

    out_cols = ["small_id", "big_id", "small_len", "big_len"]
    instr_leg = (
        joined.where(F.col("big_len") < sa_min_chars)
        .where(F.instr(F.col("text_b"), F.col("text_a")) > 0)
        .select(*out_cols)
    )
    sa_leg = verify_containment_sa(joined.where(F.col("big_len") >= sa_min_chars))
    return instr_leg.unionByName(sa_leg)


SQL_SUBSTRING_PAIRS = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 40
), aug AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 2000000000,
         substr(text, (length(text)*2 // 10) + 1, length(text)*6 // 10)
  FROM base WHERE doc_id % 11 = 0
), aug2 AS (
  SELECT * FROM aug WHERE length(text) > 20
), tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM aug2
), ex AS (
  SELECT doc_id,
         unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)])) AS gram
  FROM tk WHERE len(t) >= 3
), dfc AS (
  SELECT gram, COUNT(*) AS df FROM ex GROUP BY gram
), gd AS (
  SELECT e.doc_id, e.gram, d.df FROM ex e JOIN dfc d USING (gram)
), rescue AS (
  SELECT DISTINCT gram FROM (
    SELECT gram, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, gram) AS rn
    FROM gd
  ) WHERE rn = 1
), kept AS (
  SELECT gd.doc_id, gd.gram FROM gd
  LEFT JOIN rescue r USING (gram)
  WHERE gd.df <= {_NGRAM_DF_CAP}
     OR (r.gram IS NOT NULL AND gd.df <= {_RESCUE_DF_CAP})
), lens AS (
  SELECT doc_id, length(text) AS n FROM aug2
), cand AS (
  SELECT DISTINCT a.doc_id AS small_id, b.doc_id AS big_id
  FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id <> b.doc_id
)
SELECT c.small_id, c.big_id,
       CAST(la.n AS BIGINT) AS small_len,
       CAST(lb.n AS BIGINT) AS big_len
FROM cand c
JOIN lens la ON c.small_id = la.doc_id
JOIN lens lb ON c.big_id = lb.doc_id
JOIN aug2 sa ON c.small_id = sa.doc_id
JOIN aug2 sb ON c.big_id = sb.doc_id
WHERE la.n < lb.n AND strpos(sb.text, sa.text) > 0
"""


# H4 dispatch fixture: these langs key on normalized content, the rest raw
_DISPATCH_LANGS = ("en", "de")


def q_dispatched_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4 ``compute_hash`` dispatch (reference hasher.py:157-172): one
    conditional key column — normalized key for _DISPATCH_LANGS rows
    (the ``use_pixel and ext in IMAGE_EXTENSIONS`` branch), raw key
    otherwise — plus the load-bearing kind tag (the ``FILE:`` prefix
    analog, scanner.py:553)."""
    from photo_dedup_spark.functions.keys import dispatch_key_col, key_kind_col

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        key_kind_col(F.col("lang"), _DISPATCH_LANGS).alias("key_kind"),
        dispatch_key_col(F.col("lang"), F.col("text"), _DISPATCH_LANGS).alias(
            "dispatch_key"
        ),
    )


def _sql_dispatched_keys() -> str:
    from photo_dedup_spark.functions.keys import dispatch_key_sql, key_kind_sql

    return f"""
SELECT doc_id,
       {key_kind_sql('lang', _DISPATCH_LANGS)} AS key_kind,
       {dispatch_key_sql('lang', 'text', _DISPATCH_LANGS)} AS dispatch_key
FROM documents WHERE text IS NOT NULL
"""


# ---------------------------------------------------------------------------
# rows-only queries (non-SQL-expressible: pandas-UDF signatures, LSH,
# iterative CC) — driver records a weaker rows-only check
# ---------------------------------------------------------------------------

def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signatures surfaced as driver-hashable SCALARS: the driver's
    canonicalizer sorts rows by value and can't hash array columns, so
    the arrays are collapsed to sha256 digests of their CSV rendering
    (the digest still pins the exact signature values)."""
    from photo_dedup_spark.functions.normalize import normalize_col
    from photo_dedup_spark.functions.signatures import make_minhash_simhash_udf

    # single-pass struct UDF (VERDICT r3 #6): one shingling and ONE
    # Arrow transfer of normalized content, matching q_lsh_candidates
    sign_udf = make_minhash_simhash_udf(ENTRY_CONFIG)
    d = _wide(_docs(spark, sf_dir).where(F.col("text").isNotNull()))
    sigs = d.select(
        "doc_id", sign_udf(normalize_col(F.col("text"))).alias("sig")
    ).select(
        "doc_id",
        F.col("sig.minhash").alias("minhash"),
        F.col("sig.simhash").alias("simhash"),
    )

    def _digest(col: str):
        return F.sha2(
            F.concat_ws(",", F.transform(col, lambda x: x.cast("string"))), 256
        )

    return sigs.select(
        "doc_id",
        _digest("minhash").alias("minhash_digest"),
        _digest("simhash").alias("simhash_digest"),
        F.element_at("minhash", 1).cast("long").alias("minhash_0"),
        F.element_at("simhash", 1).alias("simhash_0"),
    )


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from photo_dedup_spark.functions.normalize import normalize_col
    from photo_dedup_spark.functions.signatures import make_signature_struct_udf
    from photo_dedup_spark.operators import lsh

    # single-pass struct UDF (the pipeline's path): one shingling and
    # ONE Arrow content transfer, vs the deprecated 3-UDF shim's three
    sign_udf = make_signature_struct_udf(ENTRY_CONFIG)
    d = _wide(_docs(spark, sf_dir).where(F.col("text").isNotNull()))
    # checkpoint the signature output (as the pipeline does): the
    # candidate engine's branches must not re-run the pandas UDF
    signed = d.select(
        "doc_id", sign_udf(normalize_col(F.col("text"))).alias("sig")
    ).select("doc_id", F.col("sig.band_hashes").alias("band_hashes")).localCheckpoint(
        eager=False
    )
    pairs, _stats = lsh.candidate_pairs(lsh.explode_bands(signed, ENTRY_CONFIG), ENTRY_CONFIG)
    # a pair sharing several bands is emitted once per band
    return pairs.distinct()


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline (signatures → LSH → verify → CC → keep window)."""
    from photo_dedup_spark.pipeline import run_pipeline

    files = _docs_as_files(spark, sf_dir)
    res = run_pipeline(spark, files, ENTRY_CONFIG, mode="hybrid", collect_metrics=False)
    return res.assignments.select("doc_id", "cluster_id", "rn", "is_keep")


def q_action_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C2 plan rows over the pipeline output.

    Runs in hybrid mode: the sf corpora have no raw-exact dup groups
    (exact mode yields an EMPTY plan — a vacuous check), but near-dup
    clusters exist at every sf, so move/rename/skip logic is actually
    exercised."""
    from photo_dedup_spark.operators.groups import dup_groups_only
    from photo_dedup_spark.operators.plan import move_plan, rename_plan, sequence_plan
    from photo_dedup_spark.pipeline import run_pipeline

    files = _docs_as_files(spark, sf_dir)
    res = run_pipeline(spark, files, ENTRY_CONFIG, mode="hybrid", collect_metrics=False)
    # the assignments are the pipeline's checkpointed s6, partitioned on
    # cluster_id: each consumer of the dup groups re-reads that table and
    # runs the member-count window without a shuffle
    dups = dup_groups_only(res.assignments)
    plan = move_plan(dups).unionByName(rename_plan(dups))
    return sequence_plan(plan)


def q_action_plan_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C2 decision logic, ORACLE-CHECKED (r4 VERDICT next-round #2).

    The hybrid-mode ``action_plan`` above is rows-only because its
    cluster input (near-dup LSH) is not SQL-expressible — but the plan
    semantics themselves are pure windows/CASE (reference
    cleaner.py:722-919), so this twin runs the SAME ``move_plan`` +
    ``rename_plan`` operators over SQL-expressible normalized-key
    clusters (the construction already oracle-green as
    ``exact_dup_groups``/``keep_selection``) and DuckDB replays every
    branch.  Planted two-member clusters per documents row with
    ``doc_id % 7 == 0``, family by ``doc_id % 35`` so each conflict
    branch provably fires (non-vacuous by construction):

      28 → R: plain rename (member name beats the keep's)
       0 → S: rename blocked by a surviving path not renamed away
              (cleaner.py:823-837) → ``skip``
       7 → C: chained A→B while B→C → two-phase ``rename_stage`` /
              ``rename_final`` hops (cleaner.py:797-919)
      14 → D: two proposals share a target → first by src wins,
              second ``skip``
      21 → E: two delete-members share a backup path → ``_dupN``
              collision suffix (cleaner.py:756-764)

    ``seq`` is intentionally absent here: :func:`sequence_plan` buckets
    by ``xxhash64``, which DuckDB cannot replay — the chain-safe total
    order is instead oracle-checked at phase granularity (the ``phase``
    column IS the order contract: moves < stage hops < renames < final
    hops < skips), and exact ``seq`` stays covered by the golden-pinned
    hybrid query."""
    from photo_dedup_spark.operators.plan import _phase_col, move_plan, rename_plan

    d = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 7 == 0))
        .select("doc_id", "text", (F.col("doc_id") % 35).alias("r"))
    )
    i = F.col("doc_id").cast("string")

    def lit_concat(*parts):
        return F.concat(*[F.lit(x) if isinstance(x, str) else x for x in parts])

    def family(res: int, suffix: str, *paths):
        t = F.concat(F.col("text"), F.lit(suffix))
        out = None
        for pc in paths:
            m = d.where(F.col("r") == res).select(
                norm_key_col(t).alias("cluster_id"),
                pc.alias("path"),
                F.length(t).alias("n_chars"),
            )
            out = m if out is None else out.unionByName(m)
        return out

    members = (
        family(28, "|R", lit_concat("docs/", i, ".txt"),
               lit_concat("mirror/Nice Photo Set ", i, ".txt"))
        .unionByName(family(0, "|S1", lit_concat("docs/Target ", i, ".txt"),
                            lit_concat("mirror/", i, " (1).txt")))
        .unionByName(family(0, "|S2", lit_concat("docs/aaa_very_long_name_", i, ".txt"),
                            lit_concat("mirror/Target ", i, ".txt")))
        .unionByName(family(7, "|C1", lit_concat("docs/ChainA ", i, ".txt"),
                            lit_concat("mirror/ChainB ", i, ".txt")))
        .unionByName(family(7, "|C2", lit_concat("docs/ChainB ", i, ".txt"),
                            lit_concat("mirror/ChainC ", i, ".txt")))
        .unionByName(family(14, "|D1", lit_concat("docs/d1_quite_long_stem_", i, ".txt"),
                            lit_concat("mirror/Dup Target ", i, ".txt")))
        .unionByName(family(14, "|D2", lit_concat("docs/d2_quite_long_stem_", i, ".txt"),
                            lit_concat("mirror2/Dup Target ", i, ".txt")))
        .unionByName(family(21, "|E1", lit_concat("docs/e1_", i, ".txt"),
                            lit_concat("mirror/shared_", i, ".txt")))
        .unionByName(family(21, "|E2", lit_concat("docs/e2_", i, ".txt"),
                            lit_concat("mirror/shared_", i, ".txt")))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("path"))
    # checkpoint: the planted member table is 18 unioned scan branches,
    # each re-normalizing + re-hashing text — move/rename consume the
    # selection several times, so materialize it once (tiny rows)
    selected = members.withColumn(
        "is_keep", F.row_number().over(w) == 1
    ).localCheckpoint(eager=False)
    plan = move_plan(selected).unionByName(rename_plan(selected))
    return plan.select(
        "action", "cluster_id", "src", "dst", _phase_col().cast("int").alias("phase")
    )


def _apx_members_sql() -> str:
    """DuckDB rendering of the planted member families above."""
    fams = [
        (28, "|R", ["'docs/' || i || '.txt'", "'mirror/Nice Photo Set ' || i || '.txt'"]),
        (0, "|S1", ["'docs/Target ' || i || '.txt'", "'mirror/' || i || ' (1).txt'"]),
        (0, "|S2", ["'docs/aaa_very_long_name_' || i || '.txt'", "'mirror/Target ' || i || '.txt'"]),
        (7, "|C1", ["'docs/ChainA ' || i || '.txt'", "'mirror/ChainB ' || i || '.txt'"]),
        (7, "|C2", ["'docs/ChainB ' || i || '.txt'", "'mirror/ChainC ' || i || '.txt'"]),
        (14, "|D1", ["'docs/d1_quite_long_stem_' || i || '.txt'", "'mirror/Dup Target ' || i || '.txt'"]),
        (14, "|D2", ["'docs/d2_quite_long_stem_' || i || '.txt'", "'mirror2/Dup Target ' || i || '.txt'"]),
        (21, "|E1", ["'docs/e1_' || i || '.txt'", "'mirror/shared_' || i || '.txt'"]),
        (21, "|E2", ["'docs/e2_' || i || '.txt'", "'mirror/shared_' || i || '.txt'"]),
    ]
    parts = []
    for res, suffix, paths in fams:
        t = f"text || '{suffix}'"
        for pexpr in paths:
            parts.append(
                f"SELECT {norm_key_sql(t)} AS cluster_id, {pexpr} AS path,"
                f" length({t}) AS n_chars FROM b WHERE r = {res}"
            )
    return "\nUNION ALL\n".join(parts)


# DuckDB renderings of plan.py's string helpers (plan.py:92-96 stem —
# NOT naming._stem: ext strip is [A-Za-z0-9]+$, copy-marker strip is
# the ANCHORED trailing " (N)" only, no trim — and the dir/base split
# of rename_plan)
_APX_STEM = (
    "regexp_replace(regexp_replace(list_extract(string_split(path, '/'), -1),"
    " '\\.[A-Za-z0-9]+$', ''), ' \\([0-9]+\\)$', '')"
)


def _apx_dir_sql(col: str) -> str:
    base = f"list_extract(string_split({col}, '/'), -1)"
    return (
        f"(CASE WHEN strpos({col}, '/') > 0 THEN"
        f" substring({col}, 1, length({col}) - length({base})) ELSE '' END)"
    )


SQL_ACTION_PLAN_EXACT = f"""
WITH b AS (
  SELECT CAST(doc_id AS VARCHAR) AS i, text, doc_id % 35 AS r
  FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0
),
members AS (
{_apx_members_sql()}
),
sel AS (
  SELECT cluster_id, path,
         (ROW_NUMBER() OVER (PARTITION BY cluster_id
                             ORDER BY n_chars DESC, path ASC) = 1) AS is_keep
  FROM members
),
deletes AS (
  SELECT cluster_id, path AS src, '_duplicates_backup/' || path AS base_dst
  FROM sel WHERE NOT is_keep
),
moves AS (
  SELECT 'move' AS action, cluster_id, src,
         CASE WHEN rn = 1 THEN base_dst
              ELSE base_dst || '_dup' || CAST(rn - 1 AS VARCHAR) END AS dst
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY base_dst
                                     ORDER BY src, cluster_id) AS rn
        FROM deletes)
),
scored AS (
  SELECT cluster_id, path, is_keep,
         {readability_score_sql('path')} AS score,
         {_APX_STEM} AS stem
  FROM sel
),
best AS (
  SELECT cluster_id, stem AS best_stem FROM (
    SELECT cluster_id, stem,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY score DESC, stem DESC) AS brn
    FROM scored) WHERE brn = 1
),
props AS (
  SELECT * FROM (
    SELECT k.cluster_id, k.path AS src,
           {_apx_dir_sql('k.path')} || g.best_stem ||
           regexp_extract(list_extract(string_split(k.path, '/'), -1),
                          '(\\.[A-Za-z0-9]+)$', 1) AS dst
    FROM sel k JOIN best g USING (cluster_id) WHERE k.is_keep
  ) WHERE dst <> src
),
blocked AS (
  SELECT path AS dst FROM sel WHERE is_keep
  EXCEPT ALL
  SELECT src AS dst FROM props
),
ok1 AS (SELECT * FROM props WHERE dst NOT IN (SELECT dst FROM blocked)),
skip_ext AS (
  SELECT 'skip' AS action, cluster_id, src, dst FROM props
  WHERE dst IN (SELECT dst FROM blocked)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY dst ORDER BY src, cluster_id) AS dst_rn
  FROM ok1
),
ok2 AS (SELECT cluster_id, src, dst FROM ranked WHERE dst_rn = 1),
skip_dup AS (
  SELECT 'skip' AS action, cluster_id, src, dst FROM ranked WHERE dst_rn > 1
),
plain AS (
  SELECT 'rename' AS action, cluster_id, src, dst FROM ok2
  WHERE dst NOT IN (SELECT src FROM ok2)
),
hops AS (
  SELECT cluster_id, src, dst,
         {_apx_dir_sql('src')} || '.__dedup_tmp_' || substr(sha256(src), 1, 16)
         || '_' || list_extract(string_split(src, '/'), -1) AS tmp_path
  FROM ok2 WHERE dst IN (SELECT src FROM ok2)
),
plan AS (
  SELECT * FROM moves
  UNION ALL SELECT * FROM plain
  UNION ALL SELECT 'rename_stage', cluster_id, src, tmp_path FROM hops
  UNION ALL SELECT 'rename_final', cluster_id, tmp_path, dst FROM hops
  UNION ALL SELECT * FROM skip_ext
  UNION ALL SELECT * FROM skip_dup
)
SELECT action, cluster_id, src, dst,
       CAST(CASE action WHEN 'move' THEN 0 WHEN 'rename_stage' THEN 1
            WHEN 'rename' THEN 2 WHEN 'rename_final' THEN 3
            ELSE 9 END AS INT) AS phase
FROM plan
"""


# Tiny valid baseline JPEG (16×16 gray) with an EXIF APP1 whose
# DateTimeOriginal ASCII sits at byte offset _EXIF_DT_OFF — q_media_
# features patches a per-row datetime into it so the EXIF extraction
# chain (jpeg.exif_datetime → F5 parse) is exercised with DISTINCT
# values per row.  Synthesized by tests/test_jpeg.py's own encoder;
# EXIF layout per the reference's priority contract (metadata.py:83-89).
_EXIF_JPEG = bytes.fromhex(
    "ffd8ffe1004845786966000049492a0008000000010069870400010000001a0000000000"
    "0000010003900200140000002c00000000000000323030303a30313a30312030303a3030"
    "3a303000ffdb004300080a0a0c0c0c0e0e0e0e101010101012121212121214141414141414"
    "1616161616161616181818181818181a1a1a1a1a1a1c1c1c1c1c1e1e1e1e202020222224"
    "ffc0000b080010001001011100ffc4001f000000000c0000000000000000000000000001"
    "02030405060708090a0bffc400b51000000000000000a2000000000000000000f0010203"
    "0405060708090a1112131415161718191a2122232425262728292a313233343536373839"
    "3a4142434445464748494a5152535455565758595a6162636465666768696a7172737475"
    "767778797a8182838485868788898a9192939495969798999aa1a2a3a4a5a6a7a8a9aab1"
    "b2b3b4b5b6b7b8b9bac1c2c3c4c5c6c7c8c9cad1d2d3d4d5d6d7d8d9dae1e2e3e4e5e6e7"
    "e8e9eaf1f2f3f4f5f6f7f8f9faffda0008010100003f00604110308fd66002e0110308fd"
    "66003d904c0a60a20a41a07d82c02b82b86e190d03b0250301186c1a860360d437028103"
    "2180c8103218200640869005401e0f103b60803a8103ec3a81e08837020680881082603"
    "8370380d0c8ba0601e1a0101181c1b01408180340e0dc080601432040286c1816807fffd9"
)
_EXIF_DT_OFF = 56  # offset of the 19-byte "YYYY:MM:DD HH:MM:SS" ASCII

# 12x10 RGB VP8L (WEBP lossless, subtract-green transform) — exercises
# the VP8L header path of containers.webp_metadata in media_features.
_WEBP_TEMPLATE = bytes.fromhex(
    "52494646f0010000574542505650384ce40100002f0b4002008503020080641886cd66b3"
    "bdbdbdfdfbb7b77ffff6f6efdfdefefddbdbbf7f7bfbf76f6ffffeededed6d1689044110"
    "0000000000000000c00101806172b9cb5d72c92549928484040201000000000000000281"
    "84842449925c72c95dee7277b9cbdde52e7797bbdc5d6632e38000c0a089888888888818"
    "638c31c618638c31c6181111e79c030000000000000000000000000070ce391111630c00"
    "240000000000000000000000000000000000000000000000000000000000000000019008"
    "0000000020100591ca242691d948e56e7aed62364f4ee7e0f7fea2c14f3afc2a471f4ad6"
    "d060cdc0158b2cb9742128667139c9ab51ddb875edcbd83dadfd831d0ebcb817a69d04b4"
    "0ad46872b53e5f990ba5bd54b82ad95b4fc156943940e5cdda603244a325191cbfdefdef"
    "fc441ba69a185327d92acb95269dd84cecb491c785011f443e73fc3ba5b3310f8712eeab"
    "64d7a45b9f24420a8f6a2c61d08c450a2f5c7ea37a08db31e8a5f3104c5334a678931374"
    "515415593654d179f0fe938d1d3af7c82ac0db081d13585b87d6ce778f6e70b693ab59dc"
    "f4faaef6ba3c9be266f3a7cb3e3e1dcdf6d9625baed6cd76391cc2e5e4ef17f792ec5731"
    "7f4d8386822db91bbf4f93d775fa7ccc1fefe5fedb6cc07e85f80511022a7a4c76b86a01"
)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal columns (training-data mandate): REAL codec decodes +
    the reference's dHash over binary payloads synthesized
    deterministically from doc_id.  Routing by doc_id: every 7th row a
    real baseline JPEG with a per-row EXIF DateTimeOriginal (APP1/TIFF
    extraction + F5 multi-format parse, reference metadata.py:63-121);
    of the rest, 11-cycle residue 3 carries a fixed WEBP-lossless
    payload, residues 7/9 per-row LOSSY-VP8 WEBP and HEIC containers —
    the gated-codec tier, whose rows carry REAL container metadata
    (width/height from the VP8L header / RFC 6386 frame header /
    ISOBMFF ispe walk, functions/containers.py) with NULL features and
    a ``gated codec`` marker — 7-cycle residues 1/2 per-row PNG and
    TIFF gradients (zlib inflate; IFD walk), everything else per-row
    netpbm.  Rows-only: binary codec work is not
    SQL-expressible; features are surfaced as a sha256 digest so every
    column stays driver-hashable."""
    import struct
    import zlib

    import numpy as np
    import pandas as pd

    from photo_dedup_spark.functions.dates import parse_datetime_multi
    from photo_dedup_spark.functions.multimodal import decode_image_features

    d = _wide(_docs(spark, sf_dir).select("doc_id"))

    def _png_gray(gray: "np.ndarray") -> bytes:
        h, w = gray.shape
        raw = b"".join(b"\x00" + gray[r].tobytes() for r in range(h))

        def chunk(tag: bytes, body: bytes) -> bytes:
            c = tag + body
            return struct.pack(">I", len(body)) + c + struct.pack(">I", zlib.crc32(c))

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    def _tiff_gray(gray: "np.ndarray") -> bytes:
        h, w = gray.shape
        raster = gray.tobytes()
        ents = [
            (256, 4, w), (257, 4, h), (258, 3, 8), (259, 3, 1), (262, 3, 1),
            (273, 4, 8), (277, 3, 1), (278, 4, h), (279, 4, len(raster)),
        ]
        ifd = struct.pack("<H", len(ents))
        for tag, typ, val in ents:
            ifd += struct.pack("<HHII", tag, typ, 1, val)
        ifd += struct.pack("<I", 0)
        return b"II*\0" + struct.pack("<I", 8 + len(raster)) + raster + ifd

    def _vp8_lossy(w: int, h: int) -> bytes:
        # RFC 6386 §9.1 key-frame header (tag + 0x9D012A + 14-bit dims);
        # partition bytes zeroed — pixel decode is gated, the metadata
        # tier reads only the header (functions/containers.py)
        part = 64
        tag = (part << 5) | (1 << 4)  # keyframe, version 0, show_frame
        hdr = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
        hdr += b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
        payload = hdr + b"\x00" * part
        pad = b"\x00" if len(payload) % 2 else b""
        return (
            b"RIFF"
            + struct.pack("<I", 4 + 8 + len(payload) + len(pad))
            + b"WEBP"
            + b"VP8 "
            + struct.pack("<I", len(payload))
            + payload
            + pad
        )

    def _heic_meta(w: int, h: int) -> bytes:
        # minimal ISOBMFF: ftyp(heic) + meta(hdlr + iprp(ipco(ispe×2)))
        # — thumbnail extent first so the walk must pick the larger
        # primary (ISO 23008-12 §6.5.3)
        def box(t: bytes, body: bytes) -> bytes:
            return struct.pack(">I", 8 + len(body)) + t + body

        ispe_t = box(
            b"ispe",
            b"\x00\x00\x00\x00" + struct.pack(">II", max(w // 4, 1), max(h // 4, 1)),
        )
        ispe_m = box(b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II", w, h))
        iprp = box(b"iprp", box(b"ipco", ispe_t + ispe_m))
        hdlr = box(b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4 + b"pict" + b"\x00" * 12)
        meta = box(b"meta", b"\x00\x00\x00\x00" + hdlr + iprp)
        return box(b"ftyp", b"heic\x00\x00\x00\x00heicmif1") + meta

    def _gen(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 40 + did % 32, 30 + did % 24
                ys, xs = np.mgrid[0:h, 0:w]
                gray = ((xs * 7 + ys * 13 + did) % 251).astype(np.uint8)
                if did % 7 == 0:
                    dt = "20%02d:%02d:%02d %02d:%02d:%02d" % (
                        did % 30,
                        1 + did % 12,
                        1 + did % 28,
                        did % 24,
                        did % 60,
                        (did * 7) % 60,
                    )
                    payloads.append(
                        _EXIF_JPEG[:_EXIF_DT_OFF]
                        + dt.encode("ascii")
                        + _EXIF_JPEG[_EXIF_DT_OFF + 19 :]
                    )
                elif did % 11 == 3:
                    payloads.append(_WEBP_TEMPLATE)
                elif did % 11 == 7:
                    payloads.append(_vp8_lossy(w, h))
                elif did % 11 == 9:
                    payloads.append(_heic_meta(w, h))
                elif did % 7 == 1:
                    payloads.append(_png_gray(gray))
                elif did % 7 == 2:
                    payloads.append(_tiff_gray(gray))
                else:
                    rgb = np.repeat(gray[:, :, None], 3, axis=2)
                    payloads.append(b"P6\n%d %d\n255\n" % (w, h) + rgb.tobytes())
                ids.append(did)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = d.mapInPandas(_gen, "media_id long, payload binary")
    feats = decode_image_features(media)
    return feats.select(
        "media_id",
        "width",
        "height",
        "channels",
        F.sha2(
            F.concat_ws(",", F.transform("features", lambda x: x.cast("string"))),
            256,
        ).alias("dhash_digest"),
        "exif_datetime",
        parse_datetime_multi(F.col("exif_datetime"))
        .cast("string")
        .alias("exif_ts"),
        "decode_error",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # dedup core (oracle-checked)
        "exact_dup_groups": q_exact_dup_groups,
        "normalized_keys": q_normalized_keys,
        "partial_keys": q_partial_keys,
        "size_blocking": q_size_blocking,
        "keep_selection": q_keep_selection,
        "dup_summary": q_dup_summary,
        "unmatched_anti": q_unmatched_anti,
        "group_report_order": q_group_report_order,
        # naming / scoring
        "name_scores": q_name_scores,
        "best_name_argmax": q_best_name_argmax,
        "rename_conflict_rank": q_rename_conflict_rank,
        # strict re-split, substring containment, key dispatch
        "strict_resplit": q_strict_resplit,
        "substring_pairs": q_substring_pairs,
        "dispatched_keys": q_dispatched_keys,
        # plan decision logic over SQL-expressible clusters (oracle-checked)
        "action_plan_exact": q_action_plan_exact,
        # rows-only (non-SQL-expressible)
        "minhash_signatures": q_minhash_signatures,
        "lsh_candidates": q_lsh_candidates,
        "near_dup_clusters": q_near_dup_clusters,
        "action_plan": q_action_plan,
        "media_features": q_media_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dup_groups": SQL_EXACT_DUP_GROUPS,
        "normalized_keys": SQL_NORMALIZED_KEYS,
        "partial_keys": SQL_PARTIAL_KEYS,
        "size_blocking": SQL_SIZE_BLOCKING,
        "keep_selection": SQL_KEEP_SELECTION,
        "dup_summary": SQL_DUP_SUMMARY,
        "unmatched_anti": SQL_UNMATCHED_ANTI,
        "group_report_order": SQL_GROUP_REPORT_ORDER,
        "name_scores": SQL_NAME_SCORES,
        "best_name_argmax": SQL_BEST_NAME_ARGMAX,
        "rename_conflict_rank": SQL_RENAME_CONFLICT_RANK,
        "strict_resplit": SQL_STRICT_RESPLIT,
        "substring_pairs": SQL_SUBSTRING_PAIRS,
        "dispatched_keys": _sql_dispatched_keys(),
        "action_plan_exact": SQL_ACTION_PLAN_EXACT,
    }
