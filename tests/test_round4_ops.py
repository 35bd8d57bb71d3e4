"""Semantic unit tests for the round-4 operators: BPE-merge training,
bin-blocked interval-overlap join, rolling correlation, triangle
counting, mixture resampling, cumulative-distinct users, and the
decorrelation plan shapes of the TPC-H SQL pack (the catalog-level
DuckDB hash checks live in test_queries_oracle.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import TESTDATA_SF


# --------------------------------------------------------------- BPE


class TestBpeTrain:
    def _spark_merges(self, spark, texts, n=8):
        from spark_bi5_datasource_spark.operators.bpe import train_bpe

        docs = spark.createDataFrame([(t,) for t in texts], "text string")
        rows = train_bpe(spark, docs, num_merges=n).collect()
        return [
            (r["left"], r["right"], r["pair_count"])
            for r in sorted(rows, key=lambda r: r["rank"])
        ]

    def test_matches_reference_trainer(self, spark):
        from tests.oracles import train_bpe_local

        texts = [
            "the lower the newer the wider",
            "low lower lowest new newer newest",
            "wide wider widest low low low",
        ]
        assert self._spark_merges(spark, texts) == train_bpe_local(
            texts, num_merges=8
        )

    def test_greedy_leftmost_overlap(self, spark):
        # 'aaaa' x3 with merge (a,a): leftmost-first gives [aa, aa],
        # so round 2 merges (aa, aa) — never (a, aa)
        got = self._spark_merges(spark, ["aaaa aaaa aaaa"], n=2)
        assert got[0][:2] == ("a", "a")
        assert got[1][:2] == ("aa", "aa")

    def test_early_stop_below_min_count(self, spark):
        # every pair unique -> counts of 1 < min_pair_count=2
        got = self._spark_merges(spark, ["abcdef"], n=5)
        assert got == []

    def test_tie_break_lexicographic(self, spark):
        from tests.oracles import train_bpe_local

        # 'xy' and 'ab' both occur twice: lexicographic argmax -> ab
        texts = ["xy ab", "xy ab"]
        ref = train_bpe_local(texts, num_merges=1)
        assert ref[0][:2] == ("a", "b")
        assert self._spark_merges(spark, texts, n=1) == ref


class TestBpeEncode:
    def test_matches_reference_encoder(self, spark):
        from spark_bi5_datasource_spark.operators.bpe import encode_bpe
        from tests.oracles import encode_bpe_local, train_bpe_local

        texts = [
            "the lower the newer the wider",
            "low lower lowest new newer newest",
            "wide wider widest low low low",
        ]
        merges = [(l, r) for l, r, _ in train_bpe_local(texts, num_merges=8)]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: list(r["tokens"])
            for r in encode_bpe(docs, merges).collect()
        }
        ref = encode_bpe_local(texts, merges)
        assert got == {i: ref[i] for i in range(len(texts))}

    def test_lowest_rank_merges_first(self, spark):
        from spark_bi5_datasource_spark.operators.bpe import encode_bpe

        # merges: rank0 (b,c), rank1 (a,bc) — 'abc' must become ['abc']
        # via bc-first, not stall at ['ab','c']
        docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        got = encode_bpe(docs, [("b", "c"), ("a", "bc")]).collect()[0]
        assert list(got["tokens"]) == ["abc"]
        assert got["n_tokens"] == 1


class TestSentenceStats:
    def test_hand_counts(self, spark):
        import os
        import tempfile

        from spark_bi5_datasource_spark.plans.text_ops import text_sentence_stats

        rows = [
            (1, "One two three. Four five! six?", "en", "s", 30),
            (2, "No terminal punctuation here", "en", "s", 28),
            (3, "a. b. c. d.", "en", "s", 11),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        )
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        got = {
            r["doc_id"]: (
                r["n_sentences"],
                r["n_words"],
                r["words_per_sentence"],
                r["max_sentence_words"],
            )
            for r in text_sentence_stats(spark, d).collect()
        }
        assert got[1] == (3, 6, 2.0, 3)
        assert got[2] == (1, 4, 4.0, 4)
        assert got[3] == (4, 4, 1.0, 1)


# ----------------------------------------------- interval overlap


class TestIntervalOverlapJoin:
    def _pairs(self, spark, rows, bucket_us=100):
        from spark_bi5_datasource_spark.operators.interval_join import (
            interval_overlap_join,
        )

        df = spark.createDataFrame(rows, "id long, k string, s long, e long")
        out = interval_overlap_join(df, df, on=["k"], bucket_us=bucket_us)
        return sorted(
            (r["id"], r["b_id"])
            for r in out.collect()
            if r["id"] != r["b_id"]
        )

    def test_basic_overlap_and_key_isolation(self, spark):
        rows = [
            (1, "a", 0, 50),
            (2, "a", 40, 90),   # overlaps 1
            (3, "a", 90, 120),  # touches 2 only (half-open: no pair)
            (4, "b", 0, 50),    # other key — never pairs with a's
        ]
        assert self._pairs(spark, rows) == [(1, 2), (2, 1)]

    def test_touching_is_not_overlap(self, spark):
        assert self._pairs(spark, [(1, "a", 0, 100), (2, "a", 100, 200)]) == []

    def test_multi_bucket_span_dedups(self, spark):
        # both intervals span several buckets -> candidates collide in
        # many buckets but each pair must come back exactly once
        from spark_bi5_datasource_spark.operators.interval_join import (
            interval_overlap_join,
        )

        df = spark.createDataFrame(
            [(1, "a", 0, 1000), (2, "a", 500, 1500)],
            "id long, k string, s long, e long",
        )
        out = interval_overlap_join(df, df, on=["k"], bucket_us=100)
        got = [(r["id"], r["b_id"]) for r in out.collect()]
        assert sorted(got) == [(1, 1), (1, 2), (2, 1), (2, 2)]

    def test_matches_naive_theta_join(self, spark):
        import random

        rng = random.Random(7)
        rows = [
            (
                i,
                rng.choice(["a", "b"]),
                rng.randrange(0, 5000),
                0,
            )
            for i in range(60)
        ]
        rows = [(i, k, s, s + rng.randrange(1, 800)) for i, k, s, _ in rows]
        df = spark.createDataFrame(rows, "id long, k string, s long, e long")
        naive = sorted(
            (a[0], b[0])
            for a in rows
            for b in rows
            if a[1] == b[1] and a[2] < b[3] and b[2] < a[3]
        )
        assert self._pairs(spark, rows, bucket_us=250) == sorted(
            p for p in naive if p[0] != p[1]
        )


# ------------------------------------------------- rolling corr


class TestRollingCorr:
    def _corr(self, spark, vals):
        from spark_bi5_datasource_spark.plans.events_ops import window_rolling_corr
        import datetime as dt

        rows = [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), 1, "t", v, "{}")
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        import os
        import tempfile

        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = window_rolling_corr(spark, d)
        return {r["event_id"]: r["corr20"] for r in out.collect()}

    def test_linear_series_gives_unit_corr(self, spark):
        got = self._corr(spark, [float(i) for i in range(1, 8)])
        # x vs lag(x), both strictly linear -> corr exactly 1
        assert got[0] is None  # no lag yet
        assert got[1] is None  # n=1 in frame
        for i in range(2, 7):
            assert got[i] == pytest.approx(1.0)

    def test_constant_series_has_no_corr(self, spark):
        got = self._corr(spark, [5.0] * 6)
        assert all(v is None for v in got.values())


class TestEwma:
    def _ewma(self, spark, vals):
        import datetime as dt
        import os
        import tempfile

        from spark_bi5_datasource_spark.plans.events_ops import window_ewma

        rows = [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), 1, "t", v, "{}")
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        return {r["event_id"]: r["ewma"] for r in window_ewma(spark, d).collect()}

    def test_known_values(self, spark):
        got = self._ewma(spark, [1.0, 3.0])
        # row 0: frame [1.0] -> 1.0
        assert got[0] == pytest.approx(1.0)
        # row 1: (1*1 + 3*2) / 3 = 7/3
        assert got[1] == pytest.approx(2.333333)

    def test_constant_series_is_identity(self, spark):
        got = self._ewma(spark, [5.0] * 20)
        assert all(v == pytest.approx(5.0) for v in got.values())

    def test_recent_values_dominate(self, spark):
        got = self._ewma(spark, [0.0] * 15 + [100.0])
        # current row carries weight 2^15 of (2^16 - 1) total ≈ half
        assert got[15] == pytest.approx(100.0 * (1 << 15) / ((1 << 16) - 1))


# ---------------------------------------------------- triangles


class TestTriangleCount:
    def test_single_triangle(self, spark):
        import os
        import tempfile

        from spark_bi5_datasource_spark.plans.similarity_ops import graph_triangle_count

        # parts {1,2,3} co-occur in two orders -> 3 edges -> 1 triangle
        rows = []
        for ok in (10, 11):
            for pk in (1, 2, 3):
                rows.append((ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O"))
        # a pair below the count-2 threshold must NOT create edges
        rows += [(12, 7, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O"),
                 (12, 8, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O")]
        df = spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber int, l_quantity double, l_extendedprice double,"
            " l_discount double, l_tax double, l_returnflag string,"
            " l_linestatus string",
        )
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
        got = {
            r["node"]: r["triangles"]
            for r in graph_triangle_count(spark, d).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1}


class TestSpanDedup:
    def test_shared_prefix_flags_spans(self, spark):
        import os
        import tempfile

        from spark_bi5_datasource_spark.plans.text_ops import text_span_dedup

        words = [f"w{i}" for i in range(24)]  # 24 tokens -> spans at 0,4,8,12
        shared = " ".join(words)
        unique = " ".join(f"u{i}" for i in range(24))
        rows = [
            (1, shared, "en", "s", 1),
            (2, shared + " tail tokens here", "en", "s", 1),
            (3, unique, "en", "s", 1),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        )
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        got = {
            r["doc_id"]: (r["n_spans"], r["dup_span_frac"])
            for r in text_span_dedup(spark, d).collect()
        }
        # doc1: 4 spans, all shared with doc2 -> frac 1.0
        assert got[1] == (4, 1.0)
        # doc3: all spans unique -> frac 0.0
        assert got[3][1] == 0.0
        # doc2: 27 tokens -> spans at offsets 0..3 (leftover tail not
        # window-aligned); the first 4 windows equal doc1's
        n2, frac2 = got[2]
        assert n2 == 4 and frac2 == 1.0


# ------------------------------------------------ mixture resampling


class TestSampleMixture:
    def test_rates_and_determinism(self, spark):
        from spark_bi5_datasource_spark.plans.curation_ops import sample_mixture

        a = sample_mixture(spark, TESTDATA_SF).collect()
        b = sample_mixture(spark, TESTDATA_SF).collect()
        assert sorted(r["doc_id"] for r in a) == sorted(
            r["doc_id"] for r in b
        )
        per = {}
        for r in a:
            per[r["source"]] = per.get(r["source"], 0) + 1
        total_in = (
            spark.read.parquet(f"{TESTDATA_SF}/documents.parquet").count()
        )
        n_src = len(
            spark.read.parquet(f"{TESTDATA_SF}/documents.parquet")
            .select("source")
            .distinct()
            .collect()
        )
        # even sources: weight 2 -> keep rate capped at 1.0 (kept whole)
        even_full = [
            s for s in per if int(s[3:]) % 2 == 0
        ]
        uniform = total_in // n_src
        assert all(per[s] == uniform for s in even_full)
        # odd sources: ~2/3 keep rate, md5-thresholded
        odd = [per.get(s, 0) for s in per if int(s[3:]) % 2 == 1]
        assert odd and all(0.4 * uniform < c < 0.9 * uniform for c in odd)


# ------------------------------------------------ cumulative users


class TestCumeUsers:
    def test_first_seen_accumulation(self, spark):
        import datetime as dt
        import os
        import tempfile

        from spark_bi5_datasource_spark.plans.events_ops import events_cume_users

        day = lambda d, h=0: dt.datetime(2024, 3, d, h)  # noqa: E731
        rows = [
            (1, day(1), 100, "t", 1.0, "{}"),
            (2, day(1, 5), 101, "t", 1.0, "{}"),
            (3, day(2), 100, "t", 1.0, "{}"),   # returning, not new
            (4, day(3), 102, "t", 1.0, "{}"),
            (5, day(3, 9), 103, "t", 1.0, "{}"),
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        got = {
            r["day"].day: (r["new_users"], r["cum_users"])
            for r in events_cume_users(spark, d).collect()
        }
        assert got == {1: (2, 2), 2: (0, 2), 3: (2, 4)}


# ------------------------------------------------ SQL pack plans


class TestSqlPackPlans:
    def test_q18_semi_join_decorrelation(self, spark):
        from spark_bi5_datasource_spark.plans.tpch_pack import sql_tpch_q18

        plan = sql_tpch_q18(spark, TESTDATA_SF)._jdf.queryExecution().toString()
        assert "LeftSemi" in plan

    def test_q22_anti_join_decorrelation(self, spark):
        from spark_bi5_datasource_spark.plans.tpch_pack import sql_tpch_q22

        plan = sql_tpch_q22(spark, TESTDATA_SF)._jdf.queryExecution().toString()
        assert "LeftAnti" in plan
