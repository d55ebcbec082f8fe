"""Shared Spark fixture: local[4], small shuffle partitions, Arrow on."""

from __future__ import annotations

import pytest

from photo_dedup_spark.config import DedupConfig
from photo_dedup_spark.session import build_session

# Test config: same signature math as DEFAULT, but salting thresholds
# small enough that the salted path is exercised by tiny fixtures, and
# a content cap small enough that the corpus oversize rows trip it.
TEST_CONFIG = DedupConfig(
    content_cap_chars=1_000_000,
    salt_threshold=8,
    num_salts=4,
    bucket_overflow_cap=200,
    cc_max_iters=30,
)


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="photo-dedup-spark-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cfg():
    return TEST_CONFIG


@pytest.fixture(scope="session")
def corpus_rows():
    from photo_dedup_spark.corpus import generate_corpus

    return generate_corpus(n_bases=80, seed=42)


@pytest.fixture(scope="session")
def files_df(spark, corpus_rows):
    from photo_dedup_spark.corpus import FILES_SCHEMA, corpus_to_tuples

    files, _ = corpus_to_tuples(corpus_rows)
    return spark.createDataFrame(files, FILES_SCHEMA).cache()
