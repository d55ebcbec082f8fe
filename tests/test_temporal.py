"""Unit tests for operators/temporal.py (sessionize, asof_join).

The reference has no temporal semantics; these operators extend the
window tier (SURVEY.md §2 W1-W4) to event-stream shapes.  Oracle
parity at sf0.001/sf0.01 is covered by test_oracle_parity.py via the
session_stats / asof_clicks driver queries; here we pin the edge
semantics those corpora don't exercise: exact-gap boundaries, ties,
unmatched left rows, and an empty right side.
"""

import datetime as dt

import pytest

from photo_dedup_spark.operators.temporal import asof_join, sessionize


def _ts(s: int, us: int = 0):
    return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s, microseconds=us)


@pytest.fixture(scope="module")
def ev(spark):
    rows = [
        # user 1: gaps 10s, exactly 30s (NOT > gap), 31s (new session)
        (1, 1, _ts(0)),
        (2, 1, _ts(10)),
        (3, 1, _ts(40)),
        (4, 1, _ts(71)),
        # user 2: single event
        (5, 2, _ts(5)),
    ]
    return spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")


class TestSessionize:
    def test_gap_boundary_is_strict(self, ev):
        got = {
            r.event_id: r.session_idx
            for r in sessionize(ev, "user_id", "ts", 30, ("event_id",)).collect()
        }
        # 0->10s gap=10 same session; 10->40 gap=30 NOT > 30 → same;
        # 40->71 gap=31 > 30 → new session
        assert got == {1: 0, 2: 0, 3: 0, 4: 1, 5: 0}

    def test_identical_timestamps_use_tiebreaker(self, spark):
        df = spark.createDataFrame(
            [(1, 1, _ts(0)), (2, 1, _ts(0)), (3, 1, _ts(100))],
            "event_id long, user_id long, ts timestamp",
        )
        got = {
            r.event_id: r.session_idx
            for r in sessionize(df, "user_id", "ts", 30, ("event_id",)).collect()
        }
        assert got == {1: 0, 2: 0, 3: 1}

    def test_original_columns_preserved(self, ev):
        out = sessionize(ev, "user_id", "ts", 30, ("event_id",))
        assert set(out.columns) == {"event_id", "user_id", "ts", "session_idx"}


class TestSessionizeTwoLevel:
    """Skew-safe bucketed sessionize (r4 VERDICT "what's wrong" #1):
    must be bit-identical to the one-level window for every bucket
    size, including pathological ones (bucket < gap, 1-second buckets),
    while bounding a hot key's window task at events-per-bucket."""

    def _both(self, df, gap, bucket):
        one = {
            r.event_id: r.session_idx
            for r in sessionize(df, "user_id", "ts", gap, ("event_id",)).collect()
        }
        two = {
            r.event_id: r.session_idx
            for r in sessionize(
                df, "user_id", "ts", gap, ("event_id",), bucket_seconds=bucket
            ).collect()
        }
        return one, two

    @pytest.mark.parametrize("bucket", [1, 7, 30, 60, 3600])
    def test_equivalent_to_one_level_random_stream(self, spark, bucket):
        import random

        rng = random.Random(20260819)
        rows, t = [], 0
        for eid in range(400):
            t += rng.choice([0, 1, 5, 29, 30, 31, 95])  # clustered + gap edges
            rows.append((eid, rng.randrange(5), _ts(t)))
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
        one, two = self._both(df, 30, bucket)
        assert one == two

    def test_hot_key_bounded_width_and_equivalent(self, spark):
        # one crawler id owns 90% of the stream across 3 hours: the
        # two-level form must split it across time buckets (the width
        # bound) and still reproduce the one-level indices exactly
        rows = [(eid, 7, _ts(eid * 11)) for eid in range(1000)]  # hot key
        rows += [(10_000 + k, k % 3, _ts(k * 400)) for k in range(30)]
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
        one, two = self._both(df, 30, 600)
        assert one == two
        # structural width bound: the hot key's 1000 events span ≥ 18
        # ten-minute buckets, so no (key, bucket) window task ever sees
        # more than ~60 events — vs 1000 in the one-level form
        from pyspark.sql import functions as F

        bucketed = (
            df.where(F.col("user_id") == 7)
            .groupBy(F.floor(F.unix_micros("ts") / F.lit(600 * 1_000_000)))
            .agg(F.count("*").alias("n"))
        )
        per_bucket = [r.n for r in bucketed.collect()]
        assert len(per_bucket) >= 18
        assert max(per_bucket) <= 60

    def test_boundary_stitch_merges_sessions_across_buckets(self, spark):
        # events 5s apart straddling a bucket edge must stay one session
        rows = [(1, 1, _ts(595)), (2, 1, _ts(602)), (3, 1, _ts(1500))]
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
        one, two = self._both(df, 30, 600)
        assert one == two == {1: 0, 2: 0, 3: 1}

    def test_chain_of_merges_across_many_buckets(self, spark):
        # a session alive for 10 buckets: every boundary merges; the
        # telescoping offset arithmetic must keep ONE index throughout
        rows = [(eid, 1, _ts(eid * 20)) for eid in range(300)]  # 6000 s span
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
        one, two = self._both(df, 30, 600)
        assert one == two
        assert set(two.values()) == {0}


class TestAsofJoin:
    def _run(self, spark, left_rows, right_rows):
        left = spark.createDataFrame(
            left_rows, "event_id long, user_id long, ts timestamp"
        )
        right = spark.createDataFrame(
            right_rows, "c_event_id long, user_id long, ts timestamp"
        )
        out = asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="ts",
            right_vals={"c_event_id": "click_id"},
            left_tie="event_id", right_tie="c_event_id",
        )
        return {r.event_id: (r.click_id, r.asof_gap_us) for r in out.collect()}

    def test_latest_preceding_row_wins(self, spark):
        got = self._run(
            spark,
            [(100, 1, _ts(50))],
            [(10, 1, _ts(10)), (11, 1, _ts(49)), (12, 1, _ts(51))],
        )
        assert got == {100: (11, 1_000_000)}

    def test_equal_timestamp_right_row_is_visible(self, spark):
        got = self._run(spark, [(100, 1, _ts(50))], [(10, 1, _ts(50))])
        assert got == {100: (10, 0)}

    def test_unmatched_left_rows_get_nulls(self, spark):
        got = self._run(
            spark,
            [(100, 1, _ts(5)), (101, 2, _ts(5))],
            [(10, 1, _ts(10))],
        )
        assert got == {100: (None, None), 101: (None, None)}

    def test_empty_right_side(self, spark):
        got = self._run(spark, [(100, 1, _ts(5))], [])
        assert got == {100: (None, None)}

    def test_left_columns_pass_through(self, spark):
        left = spark.createDataFrame(
            [(100, 1, _ts(50), "hello")],
            "event_id long, user_id long, ts timestamp, note string",
        )
        right = spark.createDataFrame(
            [(10, 1, _ts(10))], "c_event_id long, user_id long, ts timestamp"
        )
        out = asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="ts",
            right_vals={"c_event_id": "click_id"},
        ).collect()
        assert out[0].note == "hello" and out[0].click_id == 10


class TestAsofJoinTwoLevel:
    """Round-6: the bucketed (skew-safe) asof form must be value-
    identical to the one-level window on adversarial streams — the
    sessionize equivalence suite's asof analog (r5 VERDICT wrong #1)."""

    def _both(self, spark, left_rows, right_rows, bucket):
        left = spark.createDataFrame(
            left_rows, "event_id long, user_id long, ts timestamp"
        )
        right = spark.createDataFrame(
            right_rows, "c_event_id long, user_id long, ts timestamp"
        )
        outs = []
        for bs in (None, bucket):
            out = asof_join(
                left, right, on="user_id", left_ts="ts", right_ts="ts",
                right_vals={"c_event_id": "click_id"},
                left_tie="event_id", right_tie="c_event_id",
                bucket_seconds=bs,
            )
            outs.append(
                {r.event_id: (r.click_id, r.asof_gap_us) for r in out.collect()}
            )
        return outs

    @pytest.mark.parametrize("bucket", [1, 7, 60, 3600])
    def test_equivalent_on_random_interleaved_stream(self, spark, bucket):
        import random

        rng = random.Random(20260821)
        lrows, rrows, t = [], [], 0
        for i in range(300):
            t += rng.choice([0, 1, 3, 59, 61, 900])
            if rng.random() < 0.5:
                lrows.append((i, rng.randrange(4), _ts(t)))
            else:
                rrows.append((10_000 + i, rng.randrange(4), _ts(t)))
        one, two = self._both(spark, lrows, rrows, bucket)
        assert one == two and len(one) == len(lrows)

    def test_hot_key_bounded_width_and_equivalent(self, spark):
        # one user owns the stream across hours: the bucketed form must
        # split its window work across time buckets and agree exactly,
        # including carries across MANY empty-right buckets
        lrows = [(i, 7, _ts(i * 13)) for i in range(800)]
        rrows = [(9_000 + k, 7, _ts(k * 1700)) for k in range(6)]
        lrows += [(20_000 + k, k % 3, _ts(k * 500)) for k in range(20)]
        one, two = self._both(spark, lrows, rrows, 600)
        assert one == two

    def test_equal_timestamp_and_boundary_rows(self, spark):
        # right row exactly at a bucket edge + equal-timestamp pairs:
        # the (ts, tie, side) order must survive bucketing
        lrows = [(10, 1, _ts(600)), (12, 1, _ts(601)), (30, 1, _ts(1200))]
        rrows = [(1, 1, _ts(600)), (21, 1, _ts(1200))]
        one, two = self._both(spark, lrows, rrows, 600)
        assert one == two
        # right tie 1 < left tie 10 at the equal timestamp ⇒ visible;
        # right tie 21 < left tie 30 at the t=1200 bucket edge ⇒ visible
        assert two[10] == (1, 0) and two[30] == (21, 0)

    def test_null_value_columns_carry_independently(self, spark):
        # a later right row with a NULL value column must not mask the
        # earlier non-null value — per-column last(ignorenulls)
        from pyspark.sql import functions as F

        left = spark.createDataFrame(
            [(100, 1, _ts(2000))], "event_id long, user_id long, ts timestamp"
        )
        right = spark.createDataFrame(
            [(10, 1, _ts(10), "x"), (None, 1, _ts(1500), "y")],
            "c_event_id long, user_id long, ts timestamp, tag string",
        )
        outs = []
        for bs in (None, 600):
            out = asof_join(
                left, right, on="user_id", left_ts="ts", right_ts="ts",
                right_vals={"c_event_id": "click_id", "tag": "tag"},
                left_tie="event_id",
                bucket_seconds=bs,
            ).collect()
            outs.append((bs, out[0].click_id, out[0].tag))
        # the null c_event_id at t=1500 does not erase click 10, while
        # tag takes the later non-null "y" — independently per column
        assert outs[0][1:] == outs[1][1:] == (10, "y")
