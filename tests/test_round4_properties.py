"""Hypothesis properties for the round-4 operators: the bin-blocked
interval-overlap join must equal the naive theta join on arbitrary
interval sets (any bucket width), and the EWMA window must equal a
straightforward local float computation within rounding tolerance."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

pytestmark = pytest.mark.usefixtures("spark")

intervals_st = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=2000),
        st.integers(min_value=1, max_value=700),
    ),
    min_size=0,
    max_size=40,
)

bucket_st = st.sampled_from([1, 7, 100, 512, 4096])


class TestIntervalJoinProperties:
    @given(intervals_st, bucket_st)
    @settings(max_examples=8, deadline=None)
    def test_equals_naive_theta_join(self, spark, ivs, bucket):
        from spark_bi5_datasource_spark.operators.interval_join import (
            interval_overlap_join,
        )

        rows = [
            (i, k, s, s + d) for i, (k, s, d) in enumerate(ivs)
        ]
        df = spark.createDataFrame(
            rows, "id long, k string, s long, e long"
        )
        got = sorted(
            (r["id"], r["b_id"])
            for r in interval_overlap_join(
                df, df, on=["k"], bucket_us=bucket
            ).collect()
        )
        naive = sorted(
            (a[0], b[0])
            for a in rows
            for b in rows
            if a[1] == b[1] and a[2] < b[3] and b[2] < a[3]
        )
        assert got == naive


values_st = st.lists(
    st.floats(
        min_value=0.01, max_value=490.0, allow_nan=False, allow_infinity=False
    ).map(lambda v: round(v, 4)),
    min_size=1,
    max_size=40,
)


class TestEwmaProperties:
    @given(values_st)
    @settings(max_examples=8, deadline=None)
    def test_equals_local_reference(self, spark, vals):
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
        got = {
            r["event_id"]: r["ewma"] for r in window_ewma(spark, d).collect()
        }
        for t_idx in range(len(vals)):
            frame = vals[max(0, t_idx - 15) : t_idx + 1]
            n = len(frame)
            s = sum(v * (1 << j) for j, v in enumerate(frame))
            ref = s / ((1 << n) - 1)
            assert got[t_idx] == pytest.approx(ref, abs=2e-6)


class TestSaltedWedgeJoin:
    """The wedge-skew guard (similarity_ops._salted_wedge_join) must be
    output-identical to the plain equi-join — on benign graphs (empty
    hub set, salt-0 fast path) AND on a planted power-law graph where
    the cap forces hub salting."""

    def _adj(self, spark, edges):
        from pyspark.sql import functions as F

        e = spark.createDataFrame(edges, "u long, v long")
        return e.select(
            F.col("u").alias("node"), F.col("v").alias("nbr")
        ).unionAll(e.select(F.col("v").alias("node"), F.col("u").alias("nbr")))

    def _common_counts(self, adj, **kw):
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.plans.similarity_ops import _salted_wedge_join

        x = adj.toDF("u", "nbr")
        y = adj.toDF("v", "nbr")
        out = (
            _salted_wedge_join(x, y, "nbr", "u", **kw)
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").alias("com"))
            .collect()
        )
        return {(r["u"], r["v"]): r["com"] for r in out}

    def test_planted_power_law_hub(self, spark):
        from pyspark.sql import functions as F

        # star around node 0 (degree 60 — a hub at cap 8) plus a ring
        # of local edges: wedge counts through the hub must survive
        # the salted path bit-for-bit
        edges = [(0, i) for i in range(1, 61)]
        edges += [(i, i + 1) for i in range(1, 60, 3)]
        adj = self._adj(spark, edges)
        plain = (
            adj.toDF("u", "nbr")
            .join(adj.toDF("v", "nbr"), "nbr")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").alias("com"))
            .collect()
        )
        want = {(r["u"], r["v"]): r["com"] for r in plain}
        assert want  # the star yields C(60,2) wedge pairs
        got = self._common_counts(adj, hub_cap=8, salts=4)
        assert got == want

    def test_benign_graph_no_hubs(self, spark):
        edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
        adj = self._adj(spark, edges)
        got = self._common_counts(adj, hub_cap=4096, salts=16)
        # triangle (1,2,3) and (1,3,4): common-neighbor counts by hand
        assert got[(1, 3)] == 2 and got[(2, 4)] == 2
