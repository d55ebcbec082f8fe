"""Naming truth table and readability ordering (reference TestNaming /
TestIsMeaningless, /root/reference/tests/test_core.py:165-264)."""

import pytest
from pyspark.sql import functions as F

from photo_dedup_spark.functions.naming import (
    is_meaningless,
    readability_score,
    valid_ymd_prefix,
)


def _score_names(spark, names):
    df = spark.createDataFrame([(n,) for n in names], "name string")
    rows = df.select(
        "name",
        is_meaningless(F.col("name")).alias("m"),
        readability_score(F.col("name")).alias("s"),
        valid_ymd_prefix(F.col("name")).alias("d"),
    ).collect()
    return {r.name: r for r in rows}


class TestIsMeaningless:
    """Truth table per naming.py:31-79, incl. the CJK / non-ASCII-ratio
    leg (naming.py:69-77) — mirrors reference test_core.py:165-264."""

    TABLE = {
        "12345.jpg": True,             # pure short number
        "1609753382985.jpeg": True,    # unix timestamp
        "2021-03-05_trip.jpg": False,  # date prefix
        "IMG_4321.jpg": False,         # camera prefix
        "img_4321.jpg": False,         # camera prefix is case-insensitive
        "family_dinner.jpg": False,    # descriptive alpha
        "photo (3).jpg": False,        # copy marker stripped, alpha remains
        "___.jpg": False,              # no alpha/CJK but ASCII ⇒ NOT meaningless
        "123_456.txt": False,          # digits+underscore, ASCII ⇒ NOT meaningless
        "报告.txt": False,             # CJK is descriptive
        "ファイル.txt": False,         # kana counts for the CJK leg
        "①②③.txt": True,              # >50% non-ASCII, no alpha/CJK
        "١٢٣.jpg": True,               # unicode digits are a pure number (\\d)
        "a•••.txt": False,             # alpha present
    }

    def test_table(self, spark):
        got = _score_names(spark, list(self.TABLE))
        for name, expect in self.TABLE.items():
            assert got[name].m is expect, f"{name}: {got[name].m} != {expect}"


class TestReadabilityScore:
    """Ordering invariants (test_core.py:165-220 analogs)."""

    def test_date_beats_timestamp(self, spark):
        got = _score_names(spark, ["2021-03-05_trip.jpg", "1609753382985.jpg"])
        assert got["2021-03-05_trip.jpg"].s > got["1609753382985.jpg"].s

    def test_copy_suffix_penalized(self, spark):
        got = _score_names(spark, ["dinner.jpg", "dinner (2).jpg"])
        assert got["dinner.jpg"].s > got["dinner (2).jpg"].s

    def test_descriptive_beats_short_number(self, spark):
        got = _score_names(spark, ["beach_day.jpg", "42.jpg"])
        assert got["beach_day.jpg"].s > got["42.jpg"].s

    def test_camera_bonus_stacks_with_descriptive(self, spark):
        # reference naming.py:125-131: IMG_x gets +3 (camera) AND +2
        # (descriptive alpha) — the legs stack
        got = _score_names(spark, ["IMG_x.jpg", "zz.jpg"])
        # +300 +200 −5·len vs +200 −2·len (×100 scale)
        assert got["IMG_x.jpg"].s == 300 + 200 - 5
        assert got["zz.jpg"].s == 200 - 2

    def test_datetime_bonus_requires_valid_date(self, spark):
        got = _score_names(
            spark,
            ["20210305_123456.jpg", "20211305_123456.jpg", "20210305_256161.jpg"],
        )
        # valid date+time: +1000 +500 −15·len
        assert got["20210305_123456.jpg"].s == 1000 + 500 - 15
        # month 13: no date, no datetime bonus
        assert got["20211305_123456.jpg"].s < 0
        # valid date, hour 25 invalid: +1000 only
        assert got["20210305_256161.jpg"].s == 1000 - 15

    def test_date_prefix_extraction_validates_ranges(self, spark):
        got = _score_names(
            spark, ["2021-13-05_x.jpg", "2021-12-31_x.jpg", "1899-01-01_x.jpg"]
        )
        assert got["2021-13-05_x.jpg"].d == ""     # month 13 invalid
        assert got["2021-12-31_x.jpg"].d == "2021-12-31"
        assert got["1899-01-01_x.jpg"].d == ""     # year < 1900
