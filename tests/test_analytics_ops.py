"""Semantic unit tests for the round-4b analytics operators:
int8 quantization (mapInArrow), linear-interpolation gap fill,
cosine radius search, repetition stats, and active users — values
pinned on hand-built frames where the expected answer is computable
by inspection (the catalog-level DuckDB hash check lives in
test_queries_oracle.py)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


# ------------------------------------------------------- quantize


class TestQuantizeInt8:
    def _run(self, spark, rows):
        from spark_bi5_datasource_spark.operators.quantize import quantize_int8

        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = quantize_int8(df, "vec_id", "embedding").collect()
        return {r.vec_id: r for r in out}

    def test_known_values(self, spark):
        got = self._run(spark, [(1, [1.0, -0.5, 0.25, 0.0])])
        r = got[1]
        # scale = 1.0; q = floor(x*127 + 0.5)
        assert r.scale == pytest.approx(1.0)
        assert r.qvec == [127, -63, 32, 0]

    def test_extremes_hit_127(self, spark):
        got = self._run(spark, [(1, [-2.0, 2.0, 1.0])])
        assert got[1].qvec == [-127, 127, 64]
        assert got[1].scale == pytest.approx(2.0)

    def test_zero_vector(self, spark):
        got = self._run(spark, [(7, [0.0, 0.0])])
        assert got[7].scale == 0.0
        assert got[7].qvec == [0, 0]

    def test_ragged_lengths_fallback(self, spark):
        got = self._run(
            spark, [(1, [1.0, -1.0]), (2, [0.5, 0.25, -0.125]), (3, [])]
        )
        assert got[1].qvec == [127, -127]
        assert got[2].qvec == [127, 64, -32]  # floor(-31.75+0.5) = -32
        assert got[3].qvec == [] and got[3].scale == 0.0

    def test_roundtrip_error_bounded(self, spark):
        vec = [0.813, -0.227, 0.049, -0.991, 0.5]
        got = self._run(spark, [(1, vec)])
        r = got[1]
        for x, q in zip(vec, r.qvec):
            assert abs(q * r.scale / 127.0 - x) <= r.scale / 127.0


# ------------------------------------------------- linear gap fill


class TestGapFillLinear:
    def _frame(self, spark, pts):
        rows = [
            Row(k=k, ts=dt.datetime(2024, 1, 1, h), v=float(v))
            for (k, h, v) in pts
        ]
        return spark.createDataFrame(rows)

    def test_interior_gap_interpolates(self, spark):
        from spark_bi5_datasource_spark.functions.timeseries import (
            gap_fill_linear,
        )

        # observations at hours 0 and 3 -> hours 1, 2 interpolate
        df = self._frame(spark, [("a", 0, 3.0), ("a", 3, 9.0)])
        out = gap_fill_linear(df, "k", "ts", "v", "1 hour").collect()
        vals = {r.bucket_ts.hour: (r.value, r.is_gap) for r in out}
        assert vals[0] == (3.0, False)
        assert vals[1][0] == pytest.approx(5.0) and vals[1][1]
        assert vals[2][0] == pytest.approx(7.0) and vals[2][1]
        assert vals[3] == (9.0, False)

    def test_boundary_gaps_stay_null(self, spark):
        from spark_bi5_datasource_spark.functions.timeseries import (
            gap_fill_linear,
        )

        # key b observed only at hour 2; grid spans hours 0..4 (set
        # by key a) -> b's hours 0,1 and 3,4 have no bracketing pair
        df = self._frame(
            spark,
            [("a", 0, 1.0), ("a", 4, 1.0), ("b", 2, 5.0)],
        )
        out = gap_fill_linear(df, "k", "ts", "v", "1 hour").collect()
        b = {r.bucket_ts.hour: r.value for r in out if r.k == "b"}
        assert b[2] == 5.0
        assert b[0] is None and b[1] is None
        assert b[3] is None and b[4] is None

    def test_time_weighting_uneven_spacing(self, spark):
        from spark_bi5_datasource_spark.functions.timeseries import (
            gap_fill_linear,
        )

        # observations at hours 0 and 4, value 0 -> 8: hour 3 is 3/4
        df = self._frame(spark, [("a", 0, 0.0), ("a", 4, 8.0)])
        out = gap_fill_linear(df, "k", "ts", "v", "1 hour").collect()
        vals = {r.bucket_ts.hour: r.value for r in out}
        assert vals[3] == pytest.approx(6.0)

    def test_matches_ffill_on_observed_slots(self, spark):
        from spark_bi5_datasource_spark.functions.timeseries import (
            gap_fill,
            gap_fill_linear,
        )

        df = self._frame(
            spark, [("a", 0, 2.0), ("a", 1, 4.0), ("a", 5, 1.0)]
        )
        lin = gap_fill_linear(df, "k", "ts", "v", "1 hour")
        ff = gap_fill(df, "k", "ts", "v", "1 hour")
        lv = {r.bucket_ts: r.value for r in lin.filter(~F.col("is_gap")).collect()}
        fv = {r.bucket_ts: r.value for r in ff.filter(~F.col("is_gap")).collect()}
        assert lv == fv


# ------------------------------------------------- radius search


class TestCosineRadius:
    def test_threshold_and_self_exclusion(self, spark):
        from spark_bi5_datasource_spark.operators.similarity import (
            cosine_radius,
        )

        rows = [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),      # cos 1.0 with 0
            (2, [1.0, 1.0]),      # cos ~0.7071 with 0
            (3, [0.0, 1.0]),      # cos 0 with 0
            (4, [-1.0, 0.0]),     # cos -1 with 0
            (5, [0.0, 0.0]),      # zero norm: excluded entirely
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = cosine_radius(
            df, df.filter(F.col("vec_id") == 0), threshold=0.5
        ).collect()
        got = {(r.query_id, r.nbr_id): r.cosine for r in out}
        assert set(got) == {(0, 1), (0, 2)}
        assert got[(0, 1)] == pytest.approx(1.0)
        assert got[(0, 2)] == pytest.approx(math.sqrt(2) / 2, abs=1e-6)


# ------------------------------------------------ repetition stats


class TestRepetitionStats:
    def _run(self, spark, texts):
        from spark_bi5_datasource_spark.plans.text_ops import text_repetition_stats
        import os
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
                "doc_id long, text string, lang string, source string, n_chars long",
            ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
            return {
                r.doc_id: r
                for r in text_repetition_stats(spark, d).collect()
            }

    def test_pure_repetition(self, spark):
        got = self._run(spark, ["spam spam spam spam spam"])
        r = got[0]
        # 5 tokens, 4 bigrams all identical, 3 trigrams all identical
        assert r.n_tokens == 5
        assert r.top_bigram_frac == 1.0
        assert r.dup_trigram_frac == 1.0

    def test_all_distinct(self, spark):
        got = self._run(spark, ["alpha beta gamma delta"])
        r = got[0]
        # 3 bigrams all distinct -> top share 1/3; no repeated trigram
        assert r.n_tokens == 4
        assert r.top_bigram_frac == pytest.approx(round(1 / 3, 6))
        assert r.dup_trigram_frac == 0.0

    def test_short_docs_dropped(self, spark):
        got = self._run(spark, ["one two", "a b c"])
        assert 0 not in got  # 2 tokens < 3: no trigram support
        assert 1 in got


# ------------------------------------------------- active users


class TestActiveUsers:
    def test_wau_is_trailing_seven_days(self, spark):
        from spark_bi5_datasource_spark.plans.events_ops import events_active_users
        import os
        import tempfile

        rows = []
        # user 1 active day 1; user 2 active days 1 and 9; day 8 has
        # only user 2 -> WAU(day 8) must NOT count user 1 (day 1 is 7
        # days back, outside the 6-day trailing window)
        def ev(i, day, uid):
            return (i, dt.datetime(2024, 1, day, 12), uid, "t", 1.0, "{}")

        rows = [ev(1, 1, 1), ev(2, 1, 2), ev(3, 8, 2), ev(4, 9, 2)]
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string",
            ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
            out = {
                r.day.day: r
                for r in events_active_users(spark, d).collect()
            }
        assert out[1].dau == 2 and out[1].wau == 2
        assert out[8].dau == 1 and out[8].wau == 1
        assert out[9].dau == 1 and out[9].wau == 1
        assert set(out) == {1, 8, 9}  # only observed days appear
