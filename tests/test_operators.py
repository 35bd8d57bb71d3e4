"""Semantic oracles for the operators whose driver check is rows-only
(hash-based: minhash/simhash/LSH have no DuckDB twin): plant known
near-duplicates / neighbors and assert they are found, measure LSH
recall against the exact baseline, and pin as-of join edge semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_bi5_datasource_spark.operators import (
    asof_join,
    cosine_topk,
    exact_dedup,
    minhash_dedup,
    ngram_jaccard_pairs,
    rp_lsh_topk,
    simhash,
    simhash_pairs,
    top_k_per_group,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town"
    rows = [
        (1, base),
        (2, base.replace("quiet", "busy")),  # near-dup of 1
        (3, base),  # exact dup of 1
        (4, "spark catalyst optimizes declarative query plans into distributed physical stages"),
        (5, "completely unrelated words about cooking pasta with garlic butter and fresh basil"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


class TestDedup:
    def test_exact_dedup_keeps_min_id(self, spark, docs):
        kept = sorted(r.doc_id for r in exact_dedup(docs, ["text"], "doc_id").collect())
        assert kept == [1, 2, 4, 5]  # 3 dropped (exact dup of 1)

    def test_exact_dedup_null_keys_group(self, spark):
        """Null keys form ONE group (window-partition semantics, kept
        null-safely by the r14 semi-join shape), and column order is
        the caller's."""
        df = spark.createDataFrame(
            [(1, None, "a"), (2, None, "b"), (3, "x", "c"), (4, "x", "d")],
            "doc_id int, text string, extra string",
        )
        out = exact_dedup(df, ["text"], "doc_id")
        assert out.columns == ["doc_id", "text", "extra"]
        assert sorted((r.doc_id, r.extra) for r in out.collect()) == [
            (1, "a"), (3, "c"),
        ]

    def test_exact_dedup_null_tie_break_counts_as_tie(self, spark):
        """Null tie-breaks are ties: an all-null group keeps every row,
        and a null row never represents a group with a non-null value."""
        df = spark.createDataFrame(
            [("a", None), ("a", None), ("b", None), ("b", 5), ("b", 7)],
            "k string, id int",
        )
        out = sorted(exact_dedup(df, ["k"], "id").collect(), key=lambda r: (r.k, r.id or 0))
        assert [tuple(r) for r in out] == [("a", None), ("a", None), ("b", 5)]

    def test_exact_dedup_over_a_self_join(self, spark):
        """A self-joined input shares its key's attribute with the
        representative frame built from it; the join still resolves,
        keeping one row per key with the lowest id."""
        df = spark.createDataFrame(
            [(1, 5), (2, 5), (3, 6), (4, 7), (0, 7)], "id long, k long"
        )
        out = exact_dedup(df.join(df.select("k").distinct(), "k"), ["k"], "id")
        assert sorted((r.k, r.id) for r in out.collect()) == [(5, 1), (6, 3), (7, 0)]

    def test_exact_dedup_dotted_key_name(self, spark):
        """A key whose name holds a dot: a join condition that compared
        the key with itself was re-resolved by name, and the dotted
        name parsed as a struct field."""
        df = spark.createDataFrame(
            [(5, 1), (5, 2), (6, 3), (7, 4), (7, 0)], "`a.b` long, id long"
        )
        out = exact_dedup(df, ["`a.b`"], "id")
        assert sorted(tuple(r) for r in out.collect()) == [(5, 1), (6, 3), (7, 0)]

    def test_minhash_finds_planted_near_dup(self, spark, docs):
        kept = sorted(
            r.doc_id
            for r in minhash_dedup(docs, "doc_id", "text", threshold=0.4).collect()
        )
        assert 2 not in kept and 3 not in kept  # both collapse into 1
        assert {1, 4, 5} <= set(kept)

    def test_minhash_dedup_preserves_column_order(self, spark):
        """The re-attach semi join must not move id_col to the front
        (ADVICE r13; a USING-name semi join reorders by default)."""
        df = spark.createDataFrame(
            [("x", 1, "one two three"), ("y", 2, "one two three")],
            "extra string, doc_id int, text string",
        )
        out = minhash_dedup(df, "doc_id", "text", threshold=0.4)
        assert out.columns == ["extra", "doc_id", "text"]

    def test_ngram_jaccard_exact_pairs(self, spark, docs):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()
        }
        assert pairs[(1, 3)] == 1.0  # identical
        assert 0.5 < pairs[(1, 2)] < 1.0  # one word changed
        assert (1, 4) not in pairs and (4, 5) not in pairs

    def test_simhash_near_dups(self, spark, docs):
        hashed = simhash(docs, "text")
        pairs = {
            (r.id_a, r.id_b)
            for r in simhash_pairs(hashed, "doc_id", max_hamming=16).collect()
        }
        assert (1, 3) in pairs  # identical text → identical simhash
        assert (1, 2) in pairs  # near-dup within hamming budget
        assert (4, 5) not in pairs

    def test_simhash_identical_distance_zero(self, spark, docs):
        h = {r.doc_id: r.simhash for r in simhash(docs, "text").collect()}
        assert h[1] == h[3]
        assert h[1] != h[4]


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        vecs = rng.standard_normal((60, 16))
        vecs[1] = vecs[0] + 0.01 * rng.standard_normal(16)  # planted neighbor
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        return spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    def test_bruteforce_finds_planted_neighbor(self, spark, emb):
        res = cosine_topk(emb, emb.filter("vec_id = 0"), k=1).collect()
        assert res[0].nbr_id == 1 and res[0].cosine > 0.99

    def test_lsh_recall_vs_exact(self, spark, emb):
        queries = emb.filter("vec_id < 10")
        exact = {
            (r.query_id, r.nbr_id)
            for r in cosine_topk(emb, queries, k=3).collect()
        }
        approx = {
            (r.query_id, r.nbr_id)
            for r in rp_lsh_topk(
                emb, queries, k=3, dim=16, n_planes=6, multiprobe=True
            ).collect()
        }
        # Random gaussian vectors are near-orthogonal, so "top-3
        # neighbors" are barely similar — LSH recall on them is
        # intrinsically modest; the guarantee is for genuinely similar
        # vectors (the planted pair below must always collide).
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.4
        # the planted almost-identical pair must collide
        assert (0, 1) in approx

    def test_cosine_pairs_superset_of_exact(self, spark, emb):
        """OR-amplified banded LSH must recover every exact pair at the
        threshold (regression for round-1's 0-recall single-band
        shape).  Gaussian 16-dim vectors: ~0.5-cosine pairs exist."""
        from spark_bi5_datasource_spark.operators.similarity import cosine_pairs

        exact = {
            (r.id_a, r.id_b)
            for r in sim_exact_pairs(spark, emb, threshold=0.5).collect()
        }
        assert exact, "fixture must contain at least one pair at 0.5"
        approx = {
            (r.id_a, r.id_b)
            for r in cosine_pairs(emb, threshold=0.5, dim=16).collect()
        }
        assert exact <= approx  # verification filter makes approx ⊆ exact too
        assert approx <= exact

    def test_cosine_pairs_planted_at_threshold(self, spark):
        """A pair planted AT the 0.5 threshold (60° apart) must be
        found — the hardest true pair for the amplified bands."""
        import numpy as np

        from spark_bi5_datasource_spark.operators.similarity import cosine_pairs

        rng = np.random.default_rng(11)
        base = rng.standard_normal(16)
        base /= np.linalg.norm(base)
        orth = rng.standard_normal(16)
        orth -= orth.dot(base) * base
        orth /= np.linalg.norm(orth)
        # cos(54°) ≈ 0.588 — just above threshold after float32 rounding
        theta = np.deg2rad(54.0)
        planted = np.cos(theta) * base + np.sin(theta) * orth
        vecs = [base, planted] + [rng.standard_normal(16) for _ in range(40)]
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        found = {
            (r.id_a, r.id_b)
            for r in cosine_pairs(df, threshold=0.5, dim=16).collect()
        }
        assert (0, 1) in found


def sim_exact_pairs(spark, emb, threshold):
    """Quadratic exact-cosine pair baseline (test-local twin of
    sim_cosine_pairs_exact, parameterized over any frame)."""
    import pyspark.sql.functions as F

    n = emb.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x AS double))").alias("v")
    ).withColumn("nrm", F.expr("sqrt(aggregate(v, 0D, (a, x) -> a + x * x))"))
    a, b = n.alias("a"), n.alias("b")
    dot = "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (a, v) -> a + v)"
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine", F.expr(dot) / (F.col("a.nrm") * F.col("b.nrm")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
    )


class TestChunking:
    def test_window_stride_coverage(self, spark):
        """Every token appears in some chunk; chunk i starts at
        i*stride; short docs yield exactly one chunk (themselves)."""
        from spark_bi5_datasource_spark.functions.text import chunk_array

        rows = [
            (1, " ".join(f"t{i}" for i in range(100))),  # 100 toks: 2 chunks
            (2, " ".join(f"s{i}" for i in range(64))),   # exactly window: 1
            (3, "short doc"),                            # tiny: 1 chunk
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = {
            r.doc_id: r.chunks
            for r in df.select(
                "doc_id", chunk_array("text", window=64, stride=48).alias("chunks")
            ).collect()
        }
        assert len(got[1]) == 2
        assert got[1][0].split(" ")[0] == "t0" and got[1][1].split(" ")[0] == "t48"
        assert got[1][1].split(" ")[-1] == "t99"  # tail chunk reaches the end
        assert got[2] == [" ".join(f"s{i}" for i in range(64))]
        assert got[3] == ["short doc"]

    def test_invalid_params_raise(self, spark):
        from spark_bi5_datasource_spark.functions.text import chunk_array

        with pytest.raises(ValueError, match="stride"):
            chunk_array("text", window=32, stride=48)


class TestIvf:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.default_rng(29)
        vecs = rng.standard_normal((120, 16))
        vecs[1] = vecs[0] + 0.01 * rng.standard_normal(16)  # planted neighbor
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        return spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    def test_full_probe_equals_exact(self, spark, emb):
        """nprobe = nlist probes every cell ⇒ candidate set is the whole
        corpus ⇒ results must equal brute force exactly."""
        from spark_bi5_datasource_spark.operators import ivf_topk

        queries = emb.filter("vec_id < 5")
        exact = {
            (r.query_id, r.rank): (r.nbr_id, r.cosine)
            for r in cosine_topk(emb, queries, k=3).collect()
        }
        full = {
            (r.query_id, r.rank): (r.nbr_id, r.cosine)
            for r in ivf_topk(emb, queries, k=3, nlist=8, nprobe=8, iters=3).collect()
        }
        assert full == exact

    def test_partial_probe_recall_and_planted_pair(self, spark, emb):
        from spark_bi5_datasource_spark.operators import ivf_topk

        queries = emb.filter("vec_id < 8")
        exact = {
            (r.query_id, r.nbr_id)
            for r in cosine_topk(emb, queries, k=3).collect()
        }
        got = {
            (r.query_id, r.nbr_id)
            for r in ivf_topk(emb, queries, k=3, nlist=8, nprobe=4, iters=3).collect()
        }
        # half the cells probed: gaussian "neighbors" are weak, but
        # recall must be well above the 50% a random cell pick gives
        assert len(exact & got) / len(exact) >= 0.6
        # the almost-identical planted pair shares a cell by construction
        assert (0, 1) in got

    def test_colinear_magnitudes_share_a_cell(self, spark):
        """Cells are assigned on UNIT vectors: v and 100·v have cosine 1
        but a huge L2 gap — raw-magnitude cells would systematically
        miss scaled duplicates at nprobe < nlist."""
        import numpy as np

        from spark_bi5_datasource_spark.operators import ivf_topk

        rng = np.random.default_rng(31)
        vecs = [rng.standard_normal(16) for _ in range(60)]
        vecs[1] = 100.0 * vecs[0]  # colinear, wildly different norm
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        got = {
            (r.query_id, r.rank): r.nbr_id
            for r in ivf_topk(
                df, df.filter("vec_id = 0"), k=1, nlist=8, nprobe=1, iters=3
            ).collect()
        }
        assert got[(0, 1)] == 1  # found even with a single probed cell

    def test_centroids_deterministic(self, spark, emb):
        import numpy as np

        from spark_bi5_datasource_spark.operators import kmeans_centroids

        c1 = kmeans_centroids(emb, k=4, iters=2)
        c2 = kmeans_centroids(emb, k=4, iters=2)
        assert np.array_equal(c1, c2)
        assert c1.shape == (4, 16)


class TestPq:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.default_rng(47)
        vecs = rng.standard_normal((120, 16))
        vecs[1] = vecs[0] + 0.01 * rng.standard_normal(16)  # planted neighbor
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        return spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    def test_full_shortlist_equals_exact(self, spark, emb):
        """shortlist >= |corpus| re-scores every candidate exactly ⇒
        the PQ pipeline must equal brute force bit-for-bit."""
        from spark_bi5_datasource_spark.operators import pq_topk

        queries = emb.filter("vec_id < 5")
        exact = {
            (r.query_id, r.rank): (r.nbr_id, r.cosine)
            for r in cosine_topk(emb, queries, k=3).collect()
        }
        full = {
            (r.query_id, r.rank): (r.nbr_id, r.cosine)
            for r in pq_topk(
                emb, queries, k=3, shortlist=120, m=8, iters=3, sample=120
            ).collect()
        }
        assert full == exact

    def test_short_shortlist_recall_and_planted_pair(self, spark, emb):
        """Production mode: a 20-of-120 ADC shortlist must keep recall
        far above random and must surface the planted near-duplicate
        (ADC error is tiny relative to a ~0.999 cosine gap)."""
        from spark_bi5_datasource_spark.operators import pq_topk

        queries = emb.filter("vec_id < 8")
        exact = {
            (r.query_id, r.nbr_id)
            for r in cosine_topk(emb, queries, k=3).collect()
        }
        got_rows = pq_topk(
            emb, queries, k=3, shortlist=20, m=8, iters=3, sample=120
        ).collect()
        got = {(r.query_id, r.nbr_id) for r in got_rows}
        assert len(exact & got) / len(exact) >= 0.6
        assert (0, 1) in got
        # determinism: RNG-free training + stable tie-breaks
        again = {
            (r.query_id, r.nbr_id)
            for r in pq_topk(
                emb, queries, k=3, shortlist=20, m=8, iters=3, sample=120
            ).collect()
        }
        assert got == again

    def test_indivisible_dim_raises(self, spark, emb):
        from spark_bi5_datasource_spark.operators import pq_train

        with pytest.raises(ValueError, match="not divisible"):
            pq_train(emb, m=5)


class TestAsofJoin:
    def test_backward_inclusive_and_null(self, spark):
        left = spark.createDataFrame(
            [(1, "A", "2024-01-10"), (2, "A", "2024-01-01"), (3, "B", "2024-01-05")],
            "id int, k string, d string",
        ).select("id", "k", F.col("d").cast("timestamp").alias("ts"))
        right = spark.createDataFrame(
            [("A", "2024-01-10", 10.0), ("A", "2024-01-03", 3.0), ("B", "2024-02-01", 99.0)],
            "k string, d string, px double",
        ).select("k", F.col("d").cast("timestamp").alias("ts"), "px")
        got = {r.id: r.px for r in asof_join(left, right, on="ts", by="k").collect()}
        assert got[1] == 10.0  # equal timestamps match (inclusive)
        assert got[2] is None  # nothing at-or-before
        assert got[3] is None  # B's only quote is in the future

    def test_forward_direction(self, spark):
        left = spark.createDataFrame([(1, "2024-01-05")], "id int, d string").select(
            "id", F.col("d").cast("timestamp").alias("ts")
        )
        right = spark.createDataFrame(
            [("2024-01-01", 1.0), ("2024-01-07", 7.0)], "d string, px double"
        ).select(F.col("d").cast("timestamp").alias("ts"), "px")
        got = asof_join(left, right, on="ts", direction="forward").collect()
        assert got[0].px == 7.0

    def test_right_side_without_value_columns_raises(self, spark):
        """A right side with zero value columns would make the match
        struct empty (never null → matched/unmatched ambiguity); the
        operator must refuse loudly."""
        left = spark.createDataFrame([(1, "2024-01-05")], "id int, d string").select(
            "id", F.col("d").cast("timestamp").alias("ts")
        )
        right = spark.createDataFrame([("2024-01-01",)], "d string").select(
            F.col("d").cast("timestamp").alias("ts")
        )
        with pytest.raises(ValueError, match="no value columns"):
            asof_join(left, right, on="ts")


class TestTopK:
    def test_per_group_ties_deterministic(self, spark):
        df = spark.createDataFrame(
            [("g", 5, 1), ("g", 5, 2), ("g", 5, 3), ("h", 1, 9)],
            "grp string, score int, id int",
        )
        got = top_k_per_group(
            df, "grp", [F.col("score").desc(), F.col("id").asc()], 2
        ).collect()
        g_rows = sorted(r.id for r in got if r.grp == "g")
        assert g_rows == [1, 2]  # tie broken by id, k respected


class TestAnnGemm:
    def test_matches_expression_path(self, spark):
        import numpy as np

        from spark_bi5_datasource_spark.operators import ann_topk_gemm

        rng = np.random.default_rng(11)
        rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(80)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(4)
        queries = emb.filter("vec_id < 6")
        gemm = {
            (r.query_id, r.rank): (r.nbr_id, r.cosine)
            for r in ann_topk_gemm(emb, queries, k=4).collect()
        }
        exact = {
            (r.query_id, r.rank): (r.nbr_id, r.cosine)
            for r in cosine_topk(emb, queries, k=4).collect()
        }
        assert gemm == exact and len(gemm) == 24

    def test_empty_queries(self, spark):
        from spark_bi5_datasource_spark.operators import ann_topk_gemm

        emb = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
        assert ann_topk_gemm(emb, emb.filter("vec_id < 0"), k=3).count() == 0

    def test_zero_norm_vectors_excluded_like_cosine_topk(self, spark):
        """Zero-norm vectors have undefined cosine; cosine_topk (and
        the DuckDB oracle) drop them — the GEMM path must too, not
        coerce them to cosine 0 and keep them as candidates."""
        import numpy as np

        from spark_bi5_datasource_spark.operators import ann_topk_gemm

        rng = np.random.default_rng(13)
        rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)]
        rows[3] = (3, [0.0] * 8)   # zero corpus vector
        rows[1] = (1, [0.0] * 8)   # zero query vector
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(3)
        queries = emb.filter("vec_id < 4")
        gemm = {
            (r.query_id, r.rank): (r.nbr_id, r.cosine)
            for r in ann_topk_gemm(emb, queries, k=3).collect()
        }
        exact = {
            (r.query_id, r.rank): (r.nbr_id, r.cosine)
            for r in cosine_topk(emb, queries, k=3).collect()
        }
        assert gemm == exact
        assert not any(q == 1 for q, _ in gemm)           # zero query dropped
        assert not any(n == 3 for n, _ in gemm.values())  # zero neighbor dropped


class TestNeighborTiers:
    """Every neighbor tier ends in ``similarity.rank_topk``.  Duplicate
    vectors give exactly tied cosines (small integer entries: every dot
    product is exact in any summation order), so each tier must break
    the ties by the lower ``nbr_id`` and return one schema.  Each
    approximate tier is run at its exact setting: one hyperplane with
    multiprobe, every IVF cell probed, a PQ shortlist ≥ the corpus."""

    BASE = [[3, 1, 0, 2], [1, 2, 2, 0], [0, 1, 3, 1], [2, 0, 1, 3]]
    K = 4

    @pytest.fixture(scope="class")
    def emb(self, spark):
        # ids i and i+4 and i+8 share BASE[i % 4]; id 12 has zero norm
        rows = [(i, [float(x) for x in self.BASE[i % 4]]) for i in range(12)]
        rows.append((12, [0.0] * 4))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def _expected(self):
        import numpy as np

        vecs = {i: np.asarray(self.BASE[i % 4], dtype=np.float64) for i in range(12)}
        out = []
        for q in range(4):
            scored = sorted(
                (-(vecs[q] @ v) / np.linalg.norm(vecs[q]) / np.linalg.norm(v), n)
                for n, v in vecs.items()
                if n != q
            )[: self.K]
            out += [(q, n, -c, r + 1) for r, (c, n) in enumerate(scored)]
        return out

    @pytest.mark.parametrize(
        "tier",
        ["cosine_topk", "rp_lsh_topk", "ann_topk_gemm", "knn_graph",
         "ivf_topk", "ivf_probe_index", "pq_topk"],
    )
    def test_ties_break_by_lower_nbr_id(self, spark, emb, tier):
        import numpy as np

        from spark_bi5_datasource_spark.operators import (
            ann_topk_gemm,
            ivf_topk,
            knn_graph,
            pq_topk,
        )
        from spark_bi5_datasource_spark.operators.ann_index import (
            build_ivf_index,
            ivf_probe_index,
        )

        k, queries = self.K, emb.filter("vec_id < 4")
        cents = np.asarray([[1.0, 0, 0, 0], [0, 0, 1.0, 0]])
        books = np.random.default_rng(0).standard_normal((2, 2, 2))
        out = {
            "cosine_topk": lambda: cosine_topk(emb, queries, k=k),
            "rp_lsh_topk": lambda: rp_lsh_topk(
                emb, queries, k=k, dim=4, n_planes=1
            ),
            "ann_topk_gemm": lambda: ann_topk_gemm(emb, queries, k=k),
            "knn_graph": lambda: knn_graph(emb, k=k, blocks=2).filter(
                "query_id < 4"
            ),
            "ivf_topk": lambda: ivf_topk(
                emb, queries, k=k, centroids=cents, nprobe=2
            ),
            "ivf_probe_index": lambda: ivf_probe_index(
                build_ivf_index(emb, cents), cents, queries, k=k, nprobe=2
            ),
            "pq_topk": lambda: pq_topk(
                emb, queries, k=k, shortlist=100, codebooks=books
            ),
        }[tier]()
        assert [
            (f.name, f.dataType.simpleString(), f.nullable)
            for f in out.schema.fields
        ] == [
            ("query_id", "bigint", True),
            ("nbr_id", "bigint", True),
            ("cosine", "double", True),
            ("rank", "int", False),
        ]
        got = sorted(tuple(r) for r in out.collect())
        want = sorted(self._expected())
        assert [(q, n, r) for q, n, _, r in got] == [
            (q, n, r) for q, n, _, r in want
        ]
        assert [c for _, _, c, _ in got] == pytest.approx(
            [c for _, _, c, _ in want], abs=1e-6
        )


class TestSaltedJoin:
    def test_matches_plain_join_on_skewed_keys(self, spark):
        from spark_bi5_datasource_spark.operators import salted_join

        # 90% of rows share one hot key
        large = spark.range(0, 2000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 7 ELSE id % 100 END AS k", "id AS payload"
        )
        small = spark.range(0, 100).selectExpr("id AS k", "id * 10 AS dim_val")
        got = salted_join(large, small, on="k", replicas=4)
        plain = large.join(small, "k")
        assert got.count() == plain.count()
        assert (
            got.agg(F.sum("dim_val")).collect()[0][0]
            == plain.agg(F.sum("dim_val")).collect()[0][0]
        )


class TestCopurchaseKernel:
    def test_copurchase_kernel_parity(self, spark):
        """The r13 Arrow pair-unfold must emit the exact (u, v)
        multiset of the HOF chain it replaced — including baskets
        big enough to exercise the rank -> (i, j) closed form, and
        the singleton/empty degenerate baskets."""
        import random

        from spark_bi5_datasource_spark.plans.similarity_ops import _copurchase_pairs
        from tests.oracles import _copurchase_pairs_hof

        rng = random.Random(13)
        rows = [(1, x) for x in range(53)] + [(2, 7), (3, 4)]
        for o in range(10, 60):
            for x in rng.sample(range(200), rng.randrange(0, 9)):
                rows.append((o, x))
        li = spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long"
        )
        new = _copurchase_pairs(li)
        old = _copurchase_pairs_hof(li)
        assert new.exceptAll(old).count() == 0
        assert old.exceptAll(new).count() == 0
        assert new.where("u >= v").count() == 0

    def test_prefilter_min2_lossless(self, spark, monkeypatch):
        """The r14 singleton pre-filter must keep EVERY pair with
        global multiplicity >= 2 (the downstream HAVING makes the
        composition exact): counted results with the filter forced on
        equal the unfiltered counts, on data with singletons, exact
        duplicates and cross-basket repeats."""
        import random

        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators import pairs as pairs_mod
        from spark_bi5_datasource_spark.operators.pairs import (
            maybe_prefilter_min2,
            prefilter_min2,
        )
        from spark_bi5_datasource_spark.plans.similarity_ops import _copurchase_pairs

        rng = random.Random(29)
        rows = []
        for o in range(200):
            for x in rng.sample(range(40), rng.randrange(2, 7)):
                rows.append((o, x))
        li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
        pairs = _copurchase_pairs(li)

        def counted(p):
            return (
                p.groupBy("u", "v")
                .agg(F.count("*").alias("n"))
                .where("n >= 2")
            )

        base = counted(pairs).collect()
        filt = counted(prefilter_min2(pairs)).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, filt))
        assert len(base) > 0  # the fixture actually exercises the band

        # the gate, through the public path: a known-size input at the
        # threshold turns the filter on
        monkeypatch.setattr(pairs_mod, "PAIR_PREFILTER_BYTES", 1)
        gated = counted(maybe_prefilter_min2(pairs, li)).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, gated))

    def test_unknown_scan_size_skips_prefilter(self, spark, bi5_tree, monkeypatch):
        """A bi5 scan has no statistics: Catalyst reports the
        defaultSizeInBytes sentinel for it, filtered or projected, so
        its size is unknown and the gate leaves the pairs alone."""
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators import pairs as pairs_mod
        from spark_bi5_datasource_spark.operators.pairs import (
            maybe_prefilter_min2,
            scan_size_bytes,
        )

        ticks = spark.read.format("bi5").option("digits", 5).load(bi5_tree)
        for df in (ticks, ticks.where(F.col("ticker") == "EURUSD"), ticks.select("ticker", "bid")):
            assert scan_size_bytes(df) is None
        pairs = spark.range(4).selectExpr("id AS u", "id + 1 AS v")
        assert scan_size_bytes(pairs) > 0
        assert maybe_prefilter_min2(pairs, ticks) is pairs
        # even a threshold every known size meets skips an unknown one
        monkeypatch.setattr(pairs_mod, "PAIR_PREFILTER_BYTES", 1)
        assert maybe_prefilter_min2(pairs, ticks) is pairs
        assert maybe_prefilter_min2(pairs, pairs) is not pairs

    def test_winnow_unfold_kernel_parity(self, spark):
        """The generalized unfold (operators/pairs.py) must match the
        HOF chain on arbitrary sorted int arrays — including nulls,
        empties and singletons, which contribute no pairs — and
        preserve the element type (int, not long)."""
        import random

        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators.pairs import (
            unfold_sorted_pairs,
        )

        rng = random.Random(17)
        rows = [
            (sorted(rng.sample(range(500), rng.randrange(0, 12))),)
            for _ in range(80)
        ] + [(None,), ([],), ([3],), (list(range(50)),)]
        df = spark.createDataFrame(rows, "ds array<int>")
        new = unfold_sorted_pairs(df, "ds", "doc_a", "doc_b")
        old = df.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(slice(ds, i + 2, size(ds)),"
                    " y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        ).select("p.doc_a", "p.doc_b")
        assert new.schema == old.schema
        assert new.exceptAll(old).count() == 0
        assert old.exceptAll(new).count() == 0


class TestDedupPolish:
    def test_minhash_arrow_kernel_parity(self, spark):
        """The r13 vectorized permutation-fold kernel must be
        bit-identical to the pure-Catalyst expression it replaced —
        including the degenerate rows (null text, empty text, < n
        tokens, unicode), where the constant-array zip_with yields
        [null] * num_perm rather than a null signature."""
        import random

        from spark_bi5_datasource_spark.operators.dedup import minhash_signatures
        from tests.oracles import _minhash_signatures_expr

        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "a b"),
            (4, ""),
            (5, None),
            (6, "x"),
            (7, "über straße 中文 テスト apple banana cherry"),
        ]
        rng = random.Random(7)
        words = ["alpha", "beta", "gamma", "delta", "käse", "日本語", "x"]
        rows += [
            (10 + i, " ".join(rng.choices(words, k=rng.randrange(0, 9))))
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        for num_perm in (32, 16):
            new = {
                r.doc_id: r.signature
                for r in minhash_signatures(
                    docs, "doc_id", "text", num_perm=num_perm
                ).collect()
            }
            old = {
                r.doc_id: r.signature
                for r in _minhash_signatures_expr(
                    docs, "doc_id", "text", num_perm=num_perm
                ).collect()
            }
            assert new == old

    def test_minhash_multi_round_converges(self, spark):
        # chain: A≈B, B≈C but A,C meet only through B — 2 rounds collapse all
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
        rows = [
            (1, base),
            (2, base.replace("mu", "nu")),
            (3, base.replace("mu", "nu").replace("alpha", "omega")),
        ]
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        from spark_bi5_datasource_spark.operators import minhash_dedup

        two = sorted(
            r.doc_id
            for r in minhash_dedup(docs, "doc_id", "text", threshold=0.5, rounds=2).collect()
        )
        assert two[0] == 1 and len(two) <= 2  # chain collapsed toward min id

    def test_lsh_pairs_max_bucket_guard(self, spark, docs):
        from spark_bi5_datasource_spark.operators import (
            minhash_lsh_pairs,
            minhash_signatures,
        )

        sigs = minhash_signatures(docs, "doc_id", "text")
        # absurdly small cap → all buckets dropped → zero pairs, no error
        assert minhash_lsh_pairs(sigs, "doc_id", max_bucket=1).count() == 0
        # default cap keeps the near-dup pair
        got = {
            (r.id_a, r.id_b) for r in minhash_lsh_pairs(sigs, "doc_id").collect()
        }
        assert (1, 3) in got


class TestAsofTieDeterminism:
    def test_equal_right_timestamps_stable(self, spark):
        left = spark.createDataFrame([(1, "2024-01-10")], "id int, d string").select(
            "id", F.col("d").cast("timestamp").alias("ts")
        )
        right = spark.createDataFrame(
            [("2024-01-05", 1.0), ("2024-01-05", 2.0), ("2024-01-05", 3.0)],
            "d string, px double",
        ).select(F.col("d").cast("timestamp").alias("ts"), "px")
        picks = set()
        for _ in range(3):
            picks.add(asof_join(left.repartition(3), right.repartition(2), on="ts").collect()[0].px)
        assert len(picks) == 1  # same winner every run/partitioning


class TestConnectedComponents:
    def test_chain_and_clusters(self, spark):
        from spark_bi5_datasource_spark.operators import (
            connected_components,
            dedup_by_components,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], "id_a long, id_b long"
        )
        lab = {r.node: r.component for r in connected_components(edges).collect()}
        assert lab == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
        df = spark.createDataFrame(
            [(i, "x") for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], "doc_id long, t string"
        )
        kept = sorted(r.doc_id for r in dedup_by_components(df, edges, "doc_id").collect())
        assert kept == [1, 10, 20, 99]

    def test_long_path_converges(self, spark):
        from spark_bi5_datasource_spark.operators import connected_components

        path = spark.createDataFrame(
            [(i, i + 1) for i in range(19)], "id_a long, id_b long"
        )
        lab = {r.node: r.component for r in connected_components(path).collect()}
        assert set(lab.values()) == {0} and len(lab) == 20


class TestMultimodalKernels:

    # ---- real (codec-free) kernels: PPM / PGM / BMP --------------

    @staticmethod
    def _ppm(w, h, comment=False):
        import numpy as np

        px = (np.arange(w * h * 3, dtype=np.int64) * 7 % 256).astype(np.uint8)
        head = b"P6\n" + (b"# fixture comment\n" if comment else b"")
        return head + b"%d %d\n255\n" % (w, h), px.reshape(h, w, 3)

    @staticmethod
    def _bmp(w, h):
        import struct

        import numpy as np

        px = (np.arange(w * h * 3, dtype=np.int64) * 11 % 256).astype(
            np.uint8
        ).reshape(h, w, 3)
        stride = (w * 3 + 3) // 4 * 4
        rows = np.zeros((h, stride), np.uint8)
        rows[:, : w * 3] = px[::-1].reshape(h, w * 3)
        body = rows.tobytes()
        header = struct.pack(
            "<2sIHHI" + "IiiHHIIiiII",
            b"BM", 54 + len(body), 0, 0, 54,
            40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0,
        )
        return header + body, px

    def test_decode_image_real_formats(self):
        from spark_bi5_datasource_spark.functions.multimodal import _decode_pixels

        head, px = self._ppm(17, 9, comment=True)
        got = _decode_pixels(head + px.tobytes())
        assert (got == px).all()
        bmp, px = self._bmp(13, 5)
        got = _decode_pixels(bmp)
        assert (got == px).all()
        pgm = b"P5\n4 3\n255\n" + bytes(12)
        assert _decode_pixels(pgm).shape == (3, 4, 1)

    def test_decode_image_rejects_unsupported_formats(self):
        import pytest

        from spark_bi5_datasource_spark.functions.multimodal import _decode_pixels

        # PNG, baseline JPEG, and GIF decode for real (tests below);
        # formats still outside the pure-Python codecs reject cleanly
        with pytest.raises(NotImplementedError, match="imaging library"):
            _decode_pixels(b"II*\x00" + bytes(64))  # TIFF

    # ---- PNG: stdlib-zlib + NumPy-unfilter codec ------------------

    @staticmethod
    def _png_manual(px, filters):
        """Independent forward PNG filtering (vectorized, per the spec
        formulas) — the module's sequential unfilter must invert it."""
        import struct
        import zlib as _z

        import numpy as np

        h, w, ch = px.shape
        bpp = ch

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", _z.crc32(ctype + body))
            )

        raw = bytearray()
        prev = np.zeros(w * ch, np.int64)
        for y, f in zip(range(h), filters):
            cur = px[y].reshape(-1).astype(np.int64)
            left = np.concatenate([np.zeros(bpp, np.int64), cur[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, np.int64), prev[:-bpp]])
            if f == 0:
                filt = cur
            elif f == 1:
                filt = cur - left
            elif f == 2:
                filt = cur - prev
            elif f == 3:
                filt = cur - (left + prev) // 2
            else:  # Paeth
                p = left + prev - ul
                pa, pb, pc = abs(p - left), abs(p - prev), abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
                )
                filt = cur - pred
            raw.append(f)
            raw.extend((filt % 256).astype(np.uint8).tobytes())
            prev = cur
        ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}[ch], 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _z.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    def test_png_unfilter_inverts_all_five_filters(self):
        import numpy as np

        from spark_bi5_datasource_spark.functions.multimodal import _decode_pixels

        rng = np.random.default_rng(7)
        px = rng.integers(0, 256, (5, 11, 3), dtype=np.uint8)
        payload = self._png_manual(px, filters=[0, 1, 2, 3, 4])
        got = _decode_pixels(payload)
        assert (got == px).all()

    def test_png_encode_decode_roundtrip_channel_counts(self):
        import numpy as np

        from spark_bi5_datasource_spark.functions.multimodal import _decode_pixels
        from tests.media_encoders import _png_encode

        rng = np.random.default_rng(11)
        for ch in (1, 2, 3, 4):  # gray / gray+A / RGB / RGBA
            px = rng.integers(0, 256, (6, 9, ch), dtype=np.uint8)
            got = _decode_pixels(_png_encode(px))
            assert got.shape == (6, 9, ch) and (got == px).all()

    def test_png_palette_resolves_to_rgb(self):
        import struct
        import zlib as _z

        import numpy as np

        from spark_bi5_datasource_spark.functions.multimodal import _decode_pixels

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", _z.crc32(ctype + body))
            )

        pal = np.array([[250, 0, 0], [0, 250, 0], [0, 0, 250]], np.uint8)
        idx = np.array([[0, 1, 2], [2, 1, 0]], np.uint8)
        ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)
        raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
        payload = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", pal.tobytes())
            + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b"")
        )
        got = _decode_pixels(payload)
        assert got.shape == (2, 3, 3) and (got == pal[idx]).all()

    def test_png_unsupported_variants_raise(self):
        import struct
        import zlib as _z

        import pytest

        from spark_bi5_datasource_spark.functions.multimodal import _decode_pixels

        def png_with_ihdr(depth, ct, interlace):
            ihdr = struct.pack(">IIBBBBB", 2, 2, depth, ct, 0, 0, interlace)
            body = (
                struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
                + struct.pack(">I", _z.crc32(b"IHDR" + ihdr))
            )
            return b"\x89PNG\r\n\x1a\n" + body

        with pytest.raises(NotImplementedError, match="Adam7"):
            _decode_pixels(png_with_ihdr(8, 2, 1))
        with pytest.raises(NotImplementedError, match="8-bit"):
            _decode_pixels(png_with_ihdr(16, 2, 0))

class TestAudioKernels:
    """Real (codec-free) PCM WAV decoding."""

    @staticmethod
    def _wav(n, ch=1, rate=8000, bits=16, extra_chunk=False):
        import struct

        import numpy as np

        t = np.arange(n * ch)
        if bits == 16:
            samples = (
                np.round(np.sin(t * 0.1) * 12000).astype("<i2").tobytes()
            )
        else:
            samples = (
                (np.round(np.sin(t * 0.1) * 100) + 128).astype(np.uint8).tobytes()
            )
        chunks = b""
        if extra_chunk:  # LIST metadata chunk before data, odd size → pad
            chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx\x00"
        block = ch * bits // 8
        chunks += (
            b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate, rate * block, block, bits)
            + b"data" + struct.pack("<I", len(samples)) + samples
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def test_decode_audio(self):
        from spark_bi5_datasource_spark.functions.multimodal import _audio_samples

        def shape(wav):
            x, rate = _audio_samples(wav)
            return x.shape[1], rate, x.shape[0]

        assert shape(self._wav(500)) == (1, 8000, 500)
        assert shape(self._wav(250, ch=2, rate=44100)) == (2, 44100, 250)
        assert shape(self._wav(100, bits=8, extra_chunk=True)) == (1, 8000, 100)

    def test_decode_audio_rejects_non_pcm(self):
        import struct

        import pytest

        from spark_bi5_datasource_spark.functions.multimodal import _audio_samples

        with pytest.raises(ValueError, match="RIFF"):
            _audio_samples(b"OggS" + bytes(64))
        # format tag 3 = IEEE float → needs a codec path we don't have
        f = self._wav(10)
        bad = f.replace(
            b"fmt " + struct.pack("<IHH", 16, 1, 1),
            b"fmt " + struct.pack("<IHH", 16, 3, 1),
        )
        with pytest.raises(NotImplementedError, match="PCM"):
            _audio_samples(bad)

class TestG711Companding:
    """μ-law / A-law WAV (G.711): the decoders are vectorized formula
    implementations; independent scalar FORWARD companders here pin
    them as mutual inverses over the entire byte domain."""

    @staticmethod
    def _ulaw_encode(v: int) -> int:
        s = 0x80 if v < 0 else 0
        m = min(abs(v), 32635) + 0x84
        exp = m.bit_length() - 8
        mant = (m >> (exp + 3)) & 0xF
        return (~(s | (exp << 4) | mant)) & 0xFF

    @staticmethod
    def _alaw_encode(v: int) -> int:
        s = 0x80 if v >= 0 else 0
        m = min(abs(v), 32767)
        if m < 256:
            exp, mant = 0, m >> 4
        else:
            exp = m.bit_length() - 8
            mant = (m >> (exp + 3)) & 0xF
        return (s | (exp << 4) | mant) ^ 0x55

    def test_companders_are_mutual_inverses_on_all_bytes(self):
        import numpy as np

        from spark_bi5_datasource_spark.functions.multimodal import (
            _alaw_decode, _ulaw_decode,
        )

        all_bytes = np.arange(256, dtype=np.uint8)
        u = _ulaw_decode(all_bytes)
        a = _alaw_decode(all_bytes)
        assert u.max() == 32124 and u.min() == -32124  # G.711 μ-law range
        assert a.max() == 32256 and a.min() == -32256  # G.711 A-law range
        for b in range(256):
            # μ-law has two zero codewords (0x7F = -0, 0xFF = +0); the
            # encoder canonicalizes both to +0 — everywhere else the
            # byte domain round-trips exactly
            if u[b] == 0 and b == 0x7F:
                assert self._ulaw_encode(0) == 0xFF
            else:
                assert self._ulaw_encode(int(u[b])) == b, ("ulaw", b)
            assert self._alaw_encode(int(a[b])) == b, ("alaw", b)

    @staticmethod
    def _companded_wav(codec_tag, payload, ch=1, rate=8000):
        import struct

        chunks = (
            b"fmt "
            + struct.pack("<IHHIIHH", 16, codec_tag, ch, rate, rate * ch, ch, 8)
            + b"data" + struct.pack("<I", len(payload)) + payload
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def test_wav_surface_decodes_companded_audio(self):
        import numpy as np

        from spark_bi5_datasource_spark.functions.multimodal import _audio_samples

        sig = np.round(np.sin(np.arange(400) * 0.07) * 20000).astype(int)
        for tag, enc in ((7, self._ulaw_encode), (6, self._alaw_encode)):
            payload = bytes(enc(int(v)) for v in sig)
            x, rate = _audio_samples(self._companded_wav(tag, payload))
            assert (x.shape, rate) == ((400, 1), 8000)
            # companding error ≪ signal level: the RMS matches PCM truth
            rms = np.sqrt(np.mean(np.square(x)))
            assert abs(rms - np.sqrt(np.mean((sig / 32768) ** 2))) < 0.01

    def test_ima_adpcm_decodes_msadpcm_still_rejects(self):
        """IMA ADPCM (tag 17) is now a real decoder (see
        test_ima_adpcm_matches_audioop_property for the value-level
        oracle); MS-ADPCM (tag 2) and MP3-in-WAV (tag 85) stay
        honestly rejected."""
        import struct

        import pytest

        from spark_bi5_datasource_spark.functions.multimodal import _audio_samples

        # tag-17 needs bits=4 + block_align: a 12-byte mono block
        # (4-byte header + 8 nibble bytes) = 17 samples
        body = struct.pack("<hBB", 100, 20, 0) + bytes(8)
        chunks = (
            b"fmt "
            + struct.pack("<IHHIIHHH", 18, 17, 1, 8000, 0, len(body), 4, 0)
            + b"data" + struct.pack("<I", len(body)) + body
        )
        wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
        x, rate = _audio_samples(wav)
        assert (x.shape, rate) == ((17, 1), 8000)

        for tag in (2, 85):
            bad = self._companded_wav(tag, bytes(64))
            with pytest.raises(NotImplementedError, match="codec library"):
                _audio_samples(bad)


class TestMergeUpsert:
    def _target(self, spark):
        return spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, s string, v double",
        )

    def test_update_insert_passthrough(self, spark):
        from spark_bi5_datasource_spark.operators.upsert import merge_upsert

        src = spark.createDataFrame(
            [(2, "B", 99.0), (9, "new", 1.0)], "k long, s string, v double"
        )
        got = {
            r.k: (r.s, r.v)
            for r in merge_upsert(self._target(spark), src, ["k"]).collect()
        }
        assert got == {
            1: ("a", 10.0),   # passthrough
            2: ("B", 99.0),   # updated
            3: ("c", 30.0),   # passthrough
            9: ("new", 1.0),  # inserted
        }

    def test_rejects_mismatched_columns_and_missing_key(self, spark):
        import pytest

        from spark_bi5_datasource_spark.operators.upsert import merge_upsert

        bad = spark.createDataFrame([(1, "x")], "k long, other string")
        with pytest.raises(ValueError, match="column sets differ"):
            merge_upsert(self._target(spark), bad, ["k"])
        with pytest.raises(ValueError, match="absent"):
            merge_upsert(self._target(spark), self._target(spark), ["nope"])
        with pytest.raises(ValueError, match="at least one key"):
            merge_upsert(self._target(spark), self._target(spark), [])

    def test_plan_broadcasts_delta_no_target_shuffle(self, spark):
        from spark_bi5_datasource_spark.operators.upsert import merge_upsert

        src = spark.createDataFrame([(2, "B", 9.0)], "k long, s string, v double")
        df = merge_upsert(self._target(spark), src, ["k"])
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p and "LeftAnti" in p
        assert "SortMergeJoin" not in p


class TestZOrder:
    @staticmethod
    def _morton_ref(x, y, bits):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    def test_zvalue_matches_reference(self, spark):
        from spark_bi5_datasource_spark.operators.zorder import zvalue

        rows = [(x, y) for x in [0, 1, 5, 255, 65535] for y in [0, 2, 7, 1023]]
        df = spark.createDataFrame(rows, "x long, y long")
        got = {
            (r.x, r.y): r.z
            for r in df.select("x", "y", zvalue(["x", "y"], 16).alias("z")).collect()
        }
        for (x, y), z in got.items():
            assert z == self._morton_ref(x, y, 16), (x, y)

    def test_zvalue_sql_matches_column(self, spark):
        import duckdb

        from spark_bi5_datasource_spark.operators.zorder import zvalue, zvalue_sql

        df = spark.range(200).selectExpr("id % 37 AS x", "id % 53 AS y")
        s = sorted(
            r.z for r in df.select(zvalue(["x", "y"], 8).alias("z")).collect()
        )
        d = sorted(
            r[0]
            for r in duckdb.sql(
                "SELECT "
                + zvalue_sql(["i % 37", "i % 53"], 8)
                + " FROM (SELECT unnest(generate_series(0, 199)) AS i)"
            ).fetchall()
        )
        assert s == d

    def test_bits_overflow_guard(self):
        import pytest

        from spark_bi5_datasource_spark.operators.zorder import zvalue, zvalue_sql

        with pytest.raises(ValueError, match="BIGINT"):
            zvalue(["a", "b", "c", "d"], 16)
        with pytest.raises(ValueError, match="BIGINT"):
            zvalue_sql(["a", "b"], 32)

    def test_zorder_write_clusters_both_columns(self, spark, tmp_path):
        """Per-file min/max spans must shrink on BOTH columns vs a
        single-column sort (which only tightens its own column) —
        that's the data-skipping property the layout exists for."""
        import glob

        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators.zorder import zorder_write

        df = (
            spark.range(4096)
            .selectExpr("id", "cast(id % 64 as long) AS x")
            .withColumn("y", (F.col("id") * 2654435761) % 64)
        )

        def spans(path):
            tot_x = tot_y = n = 0
            for f in glob.glob(f"{path}/part-*.parquet"):
                pdf = spark.read.parquet(f).agg(
                    F.max("x") - F.min("x"), F.max("y") - F.min("y")
                ).collect()[0]
                tot_x, tot_y, n = tot_x + pdf[0], tot_y + pdf[1], n + 1
            return tot_x / n, tot_y / n

        zorder_write(df, str(tmp_path / "z"), ["x", "y"], bits=6, num_files=16)
        (
            df.repartitionByRange(16, "x")
            .sortWithinPartitions("x")
            .write.parquet(str(tmp_path / "s"))
        )
        zx, zy = spans(str(tmp_path / "z"))
        sx, sy = spans(str(tmp_path / "s"))
        # x-sort: x span tiny, y span ~full range (63); z-order: both mid
        assert zy < sy * 0.5, (zy, sy)
        assert zx < 40, zx
        # round-trip: no rows lost by the layout
        assert spark.read.parquet(str(tmp_path / "z")).count() == 4096


class TestRedactPii:
    def test_planted_pii(self, spark):
        from spark_bi5_datasource_spark.functions.text import redact_pii

        rows = [
            (1, "mail me at john.doe+x@spam.example.org today"),
            (2, "server 10.0.255.3 rebooted"),
            (3, "call 555-867-5309 or 555 8675 3099"),
            (4, "clean text with version 1.2 and year 2026"),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {r.id: r.red for r in df.select("id", redact_pii("text").alias("red")).collect()}
        assert got[1] == "mail me at <EMAIL> today"
        assert got[2] == "server <IP> rebooted"
        assert got[3] == "call <PHONE> or <PHONE>"
        assert got[4] == rows[3][1]  # no false positives on versions/years


class TestScd2Build:
    def test_intervals_chain_per_key(self, spark):
        from spark_bi5_datasource_spark.operators.scd import scd2_build

        df = spark.createDataFrame(
            [
                (1, 10, "v1"), (1, 20, "v2"), (1, 30, "v3"),
                (2, 15, "w1"),
                (3, 5, "x1"), (3, 5, "x2"),  # same version ts → tiebreak
            ],
            "k long, ver long, payload string",
        )
        rows = scd2_build(df, ["k"], "ver", tiebreak=["payload"]).collect()
        by_key = {}
        for r in sorted(rows, key=lambda r: (r.k, r.valid_from, r.payload)):
            by_key.setdefault(r.k, []).append(
                (r.valid_from, r.valid_to, r.is_current, r.payload)
            )
        assert by_key[1] == [(10, 20, 0, "v1"), (20, 30, 0, "v2"), (30, None, 1, "v3")]
        assert by_key[2] == [(15, None, 1, "w1")]
        # deterministic tiebreak: x1 precedes x2, intervals still chain
        assert by_key[3] == [(5, 5, 0, "x1"), (5, None, 1, "x2")]
        # exactly one current row per key
        assert sum(r.is_current for r in rows) == 3

    def test_requires_keys(self, spark):
        import pytest

        from spark_bi5_datasource_spark.operators.scd import scd2_build

        with pytest.raises(ValueError, match="at least one key"):
            scd2_build(spark.range(1), [], "id")


class TestOhlcRollup:
    def test_merge_equals_direct_at_any_granularity(self, spark):
        """minute→hour→day merges must equal day bars computed directly
        from ticks (losslessness at every level)."""
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.functions.ohlc import (
            merge_ohlc_bars,
            ohlc_bars,
        )

        rows = [
            (f"2024-01-0{1 + i // 1000} {(i // 60) % 18:02d}:{i % 60:02d}:{(i * 7) % 60:02d}",
             "T", 100.0 + ((i * 37) % 500) / 10.0, float(i % 5))
            for i in range(2000)
        ]
        df = spark.createDataFrame(
            rows, "ts_s string, ticker string, bid double, bid_volume double"
        ).select(F.col("ts_s").cast("timestamp").alias("ts"), "ticker", "bid", "bid_volume")

        direct = {
            (r.bar_start, r.ticker): (r.open, r.high, r.low, r.close, r.n_ticks, r.volume)
            for r in ohlc_bars(df, "1 day").collect()
        }
        minute = ohlc_bars(df, "1 minute")
        via_hour = merge_ohlc_bars(merge_ohlc_bars(minute, "1 hour"), "1 day")
        merged = {
            (r.bar_start, r.ticker): (r.open, r.high, r.low, r.close, r.n_ticks, r.volume)
            for r in via_hour.collect()
        }
        assert merged == direct and len(direct) >= 2

    def test_null_ts_rows_dropped_on_both_paths(self, spark):
        """The batch integer-bucket path drops null-timestamp rows (an
        explicit where), as the streaming window() path does via
        TimeWindowing's IsNotNull filter."""
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.functions.ohlc import ohlc_bars

        df = spark.createDataFrame(
            [("2024-01-01 10:00:01", "T", 1.0, 1.0),
             (None, "T", 99.0, 9.0),
             ("2024-01-01 10:00:59", "T", 2.0, 1.0)],
            "ts_s string, ticker string, bid double, bid_volume double",
        ).select(
            F.col("ts_s").cast("timestamp").alias("ts"),
            "ticker", "bid", "bid_volume",
        )
        got = {(r.bar_start, r.ticker): (r.open, r.close, r.n_ticks)
               for r in ohlc_bars(df, "1 minute").collect()}
        assert all(k[0] is not None for k in got)
        assert list(got.values()) == [(1.0, 2.0, 2)]


class TestRound3NullEdges:
    def test_redact_null_passthrough(self, spark):
        from spark_bi5_datasource_spark.functions.text import redact_pii

        df = spark.createDataFrame([(1, None), (2, "a@b.co")], "id long, text string")
        got = {r.id: r.red for r in df.select("id", redact_pii("text").alias("red")).collect()}
        assert got[1] is None and got[2] == "<EMAIL>"

    def test_zvalue_null_propagates(self, spark):
        from spark_bi5_datasource_spark.operators.zorder import zvalue

        df = spark.createDataFrame([(None, 1), (2, 3)], "x long, y long")
        got = [r.z for r in df.select(zvalue(["x", "y"], 8).alias("z")).collect()]
        assert got[0] is None and got[1] is not None

    def test_merge_upsert_null_values_survive(self, spark):
        from spark_bi5_datasource_spark.operators.upsert import merge_upsert

        tgt = spark.createDataFrame([(1, "a")], "k long, v string")
        src = spark.createDataFrame([(1, None), (2, None)], "k long, v string")
        got = {r.k: r.v for r in merge_upsert(tgt, src, ["k"]).collect()}
        assert got == {1: None, 2: None}


class TestVideoKernels:
    """Real (codec-free) video frame sampling: uncompressed DIB in AVI."""

    @staticmethod
    def _avi(w, h, n_frames):
        import struct

        import numpy as np

        stride = (w * 3 + 3) // 4 * 4
        frames = []
        for f in range(n_frames):
            px = ((np.arange(h * stride, dtype=np.int64) * 13 + f * 101) % 256).astype(np.uint8)
            frames.append(px.tobytes())

        strf = b"strf" + struct.pack(
            "<I" + "IiiHHIIiiII",
            40, 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0,
        )
        strh = b"strh" + struct.pack("<I", 8) + b"vids" + b"DIB "
        strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
        avih = b"avih" + struct.pack("<I", 4) + struct.pack("<I", 33333)
        hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
        movi_body = b"".join(
            b"00db" + struct.pack("<I", len(fr)) + fr + (b"\x00" if len(fr) & 1 else b"")
            for fr in frames
        )
        movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi" + movi_body
        body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(body)) + body, frames

    def test_sample_frames_every_n_as_bmp(self):
        from spark_bi5_datasource_spark.functions.multimodal import (
            _decode_pixels,
            sample_frames,
        )

        avi, frames = self._avi(6, 4, 10)
        got = sample_frames(avi, 3)
        assert len(got) == 4  # frames 0, 3, 6, 9
        for bmp, src in zip(got, frames[::3]):
            px = _decode_pixels(bmp)
            assert px.shape == (4, 6, 3)
        # sampled frame content round-trips exactly (body == raster)
        assert got[1][54:] == frames[3]

    def test_rejects_compressed_and_non_avi(self):
        import struct

        import pytest

        from spark_bi5_datasource_spark.functions.multimodal import sample_frames

        with pytest.raises(ValueError, match="RIFF/AVI"):
            sample_frames(b"\x00\x00\x00\x00" + bytes(32), 2)
        avi, _ = self._avi(4, 4, 2)
        dc = avi.replace(b"00db", b"00dc")
        with pytest.raises(NotImplementedError, match="codec"):
            sample_frames(dc, 1)

    @staticmethod
    def _mjpeg_avi(w, h, n_frames):
        import struct

        import numpy as np

        from tests.media_encoders import jpeg_encode

        frames = []
        for f in range(n_frames):
            px = np.full((h, w, 3), 40 + 20 * f, np.uint8)
            frames.append(jpeg_encode(px, quality=95))
        strf = b"strf" + struct.pack(
            "<I" + "Iii HHIIiiII".replace(" ", ""),
            40, 40, w, h, 1, 24,
            struct.unpack("<I", b"MJPG")[0], 0, 0, 0, 0, 0,
        )
        strh = b"strh" + struct.pack("<I", 8) + b"vids" + b"MJPG"
        strl = (
            b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf))
            + b"strl" + strh + strf
        )
        hdrl = b"LIST" + struct.pack("<I", 4 + len(strl)) + b"hdrl" + strl
        movi_body = b"".join(
            b"00dc" + struct.pack("<I", len(fr)) + fr
            + (b"\x00" if len(fr) & 1 else b"")
            for fr in frames
        )
        movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi" + movi_body
        body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(body)) + body, frames

    def test_mjpeg_frames_sample_and_decode(self):
        import numpy as np

        from spark_bi5_datasource_spark.functions.multimodal import (
            _decode_pixels,
            sample_frames,
        )

        avi, frames = self._mjpeg_avi(16, 8, 5)
        got = sample_frames(avi, every_n=2)
        assert len(got) == 3 and [g[:2] for g in got] == [b"\xff\xd8"] * 3
        assert got[1] == frames[2]  # frames pass through byte-identical
        for i, g in zip((0, 2, 4), got):
            px = _decode_pixels(g)
            assert px.shape == (8, 16, 3)
            assert abs(int(np.median(px)) - (40 + 20 * i)) <= 1


class TestWhitenPerGroup:
    def test_group_covariance_becomes_identity(self, spark):
        import numpy as np

        from spark_bi5_datasource_spark.operators.grouped import whiten_per_group

        rng = np.random.default_rng(3)
        rows = []
        for g in range(3):
            # anisotropic per-group distribution, n >> d
            A = rng.standard_normal((8, 8))
            X = rng.standard_normal((120, 8)) @ A + g * 5.0
            rows += [
                (g * 1000 + i, g, [float(x) for x in X[i]]) for i in range(120)
            ]
        df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
        out = whiten_per_group(df, "label", "embedding", "vec_id")
        by_g = {}
        for r in out.collect():
            by_g.setdefault(r.label, []).append((r.vec_id, r.white))
        assert sorted(by_g) == [0, 1, 2]
        for g, pairs in by_g.items():
            X = np.stack([w for _, w in sorted(pairs)])
            assert X.shape == (120, 8)
            # whitened: zero mean, identity covariance up to the eps
            # regularization (deviation ~ eps/lambda_min ~ 1e-4)
            assert np.abs(X.mean(axis=0)).max() < 1e-9
            C = X.T @ X / 119
            assert np.abs(C - np.eye(8)).max() < 1e-3

    def test_deterministic(self, spark):
        import numpy as np

        from spark_bi5_datasource_spark.operators.grouped import whiten_per_group

        rng = np.random.default_rng(5)
        rows = [(i, i % 2, [float(x) for x in rng.standard_normal(4)]) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
        a = {r.vec_id: r.white for r in whiten_per_group(df, "label", "embedding", "vec_id").collect()}
        b = {r.vec_id: r.white for r in whiten_per_group(df, "label", "embedding", "vec_id").collect()}
        assert a == b


class TestGlobalRank:
    def test_matches_single_partition_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators.ranking import with_global_rank

        df = spark.range(997).selectExpr(
            "cast(id * 2654435761 % 1000 as double) AS v", "id"
        )
        got = {
            r.id: r.rank
            for r in with_global_rank(df, ["v", "id"], num_partitions=7).collect()
        }
        expect = {
            r.id: r.rn
            for r in df.withColumn(
                "rn", F.row_number().over(Window.orderBy("v", "id"))
            ).collect()
        }
        assert got == expect

    def test_ntile_expr_matches_sql_ntile(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators.ranking import ntile_expr

        for n, k in [(100, 10), (103, 10), (7, 10), (96, 7)]:
            df = spark.range(1, n + 1).withColumnRenamed("id", "r")
            got = {
                row.r: row.b
                for row in df.select("r", ntile_expr("r", n, k).alias("b")).collect()
            }
            expect = {
                row.r: row.b
                for row in spark.range(1, n + 1)
                .select(
                    F.col("id").alias("r"),
                    F.ntile(k).over(Window.orderBy("id")).alias("b"),
                )
                .collect()
            }
            assert got == expect, (n, k)

    def test_decile_plan_has_no_single_partition_exchange(self, spark):
        from spark_bi5_datasource_spark import plans
        from tests.conftest import TESTDATA_SF

        df = plans.CATALOG["events_decile_stats"][0](spark, TESTDATA_SF)
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in p


class TestFuzzyJoin:
    """edit_distance_join (operators/fuzzy_join.py): blocked plan must
    equal the naive cross-join + levenshtein baseline exactly."""

    @pytest.fixture(scope="class")
    def parts(self, spark):
        rows = [
            (1, "red bolt"),
            (2, "red bolts"),      # dist 1 of "red bolt"
            (3, "red bolt"),       # exact dup of 1 — excluded (dist 0)
            (4, "bed bolt"),       # dist 1 of "red bolt"
            (5, "blue gear"),
            (6, "blue gears"),     # dist 1 of "blue gear"
            (7, "glue gears"),     # dist 1 of "blue gears", 2 of "blue gear"
            (8, "widget"),
        ]
        return spark.createDataFrame(rows, "pid long, name string")

    def _naive(self, spark, df, k):
        df.createOrReplaceTempView("fz")
        return {
            (r.id_a, r.id_b, r.dist)
            for r in spark.sql(
                f"""
                SELECT a.pid AS id_a, b.pid AS id_b,
                       levenshtein(a.name, b.name) AS dist
                FROM fz a JOIN fz b ON a.pid < b.pid
                WHERE levenshtein(a.name, b.name) BETWEEN 1 AND {k}
                """
            ).collect()
        }

    @pytest.mark.parametrize("k", [1, 2])
    def test_equals_naive(self, spark, parts, k):
        from spark_bi5_datasource_spark.operators.fuzzy_join import (
            edit_distance_join,
        )

        got = {
            (r.id_a, r.id_b, r.dist)
            for r in edit_distance_join(parts, "pid", "name", k=k).collect()
        }
        assert got == self._naive(spark, parts, k)

    def test_duplicate_values_expand_to_all_id_pairs(self, spark):
        from spark_bi5_datasource_spark.operators.fuzzy_join import (
            edit_distance_join,
        )

        rows = [(1, "alpha"), (2, "alpha"), (3, "alphq"), (4, "alpha")]
        df = spark.createDataFrame(rows, "pid long, name string")
        got = {
            (r.id_a, r.id_b)
            for r in edit_distance_join(df, "pid", "name", k=1).collect()
        }
        # every "alpha" id pairs with the single typo id; the
        # dist-0 pairs among 1/2/4 are exact dups, not fuzzy matches
        assert got == {(1, 3), (2, 3), (3, 4)}


class TestKnnGraph:
    """knn_graph (operators/knn.py): the block-pair GEMM must equal the
    broadcast-query exact path for every block count."""

    @pytest.fixture(scope="class")
    def vecs(self, spark):
        import numpy as np

        rng = np.random.default_rng(11)
        rows = [
            (i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)
        ]
        rows.append((60, [0.0] * 8))  # zero-norm: no defined cosine
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    @pytest.mark.parametrize("blocks", [1, 3, 8])
    def test_equals_broadcast_exact(self, spark, vecs, blocks):
        from spark_bi5_datasource_spark.operators.ann_shard import ann_topk_gemm
        from spark_bi5_datasource_spark.operators.knn import knn_graph

        got = {
            (r.query_id, r.rank): (r.nbr_id, r.cosine)
            for r in knn_graph(vecs, k=4, blocks=blocks).collect()
        }
        expect = {
            (r.query_id, r.rank): (r.nbr_id, r.cosine)
            for r in ann_topk_gemm(vecs, vecs, k=4).collect()
        }
        assert got == expect

    def test_zero_norm_absent_both_roles(self, spark, vecs):
        from spark_bi5_datasource_spark.operators.knn import knn_graph

        out = knn_graph(vecs, k=4, blocks=3).collect()
        assert all(r.query_id != 60 and r.nbr_id != 60 for r in out)


class TestGapFill:
    """gap_fill (functions/timeseries.py): grid completeness, forward
    fill, leading-null semantics."""

    def test_fills_known_gaps(self, spark):
        from spark_bi5_datasource_spark.functions.timeseries import gap_fill

        rows = [
            ("a", "2024-01-01 00:10:00", 1.0),
            ("a", "2024-01-01 00:40:00", 3.0),   # same hour → avg 2.0
            ("a", "2024-01-01 03:05:00", 7.0),   # hours 1-2 are gaps
            ("b", "2024-01-01 02:30:00", 5.0),   # hours 0-1 leading gaps
        ]
        df = spark.createDataFrame(
            rows, "k string, ts string, v double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            (r.k, str(r.bucket_ts)): (r.value, r.is_gap)
            for r in gap_fill(df, "k", "ts", "v", "1 hour").collect()
        }
        assert len(out) == 8  # 2 keys x 4-hour global grid
        assert out[("a", "2024-01-01 00:00:00")] == (2.0, False)
        assert out[("a", "2024-01-01 01:00:00")] == (2.0, True)   # filled
        assert out[("a", "2024-01-01 02:00:00")] == (2.0, True)   # filled
        assert out[("a", "2024-01-01 03:00:00")] == (7.0, False)
        assert out[("b", "2024-01-01 00:00:00")] == (None, True)  # leading
        assert out[("b", "2024-01-01 01:00:00")] == (None, True)  # leading
        assert out[("b", "2024-01-01 02:00:00")] == (5.0, False)
        assert out[("b", "2024-01-01 03:00:00")] == (5.0, True)   # filled


class TestPageRank:
    """pagerank (operators/pagerank.py): hand-computed fixed point on
    a tiny graph, plus mass conservation and dangling redistribution."""

    def test_hand_computed_two_iterations(self, spark):
        from spark_bi5_datasource_spark.operators.pagerank import pagerank

        # 1->2, 2->1, 2->3, 3->1 ; by hand (damping .85, n=3):
        # it1: pr1=.05+.85*(1/6+1/3)=.475  pr2=.05+.85/3=.3333  pr3=.1917
        # it2: pr1=.05+.85*(.3333/2+.1917)=.354583  pr2=.45375  pr3=.191667
        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 1)], "src long, dst long"
        )
        got = {
            r.node: round(r.rank, 6)
            for r in pagerank(edges, iters=2, damping=0.85).collect()
        }
        assert got == {1: 0.354583, 2: 0.45375, 3: 0.191667}

    def test_mass_conserved_with_dangling(self, spark):
        from spark_bi5_datasource_spark.operators.pagerank import pagerank

        # node 3 has no out-edges: its mass must be redistributed,
        # keeping the total at 1.0
        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long"
        )
        ranks = pagerank(edges, iters=4).collect()
        assert abs(sum(r.rank for r in ranks) - 1.0) < 1e-9
        assert len(ranks) == 3

    def test_eager_mode_matches_lazy(self, spark):
        """eager=True (the long-lived-session posture, ADVICE r10):
        materialize-then-unpersist must return exactly the lazy
        call's ranks, and the result must stay collectable AFTER its
        invariant caches were released (it reads its own checkpoint
        blocks).  The storage accounting itself isn't asserted —
        checkpoint block registration is reaped asynchronously by
        ContextCleaner, so a counter assertion would be flaky."""
        from spark_bi5_datasource_spark.operators.pagerank import pagerank

        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 1)], "src long, dst long"
        )
        lazy = {
            r.node: round(r.rank, 9)
            for r in pagerank(edges, iters=3).collect()
        }
        eager = pagerank(edges, iters=3, eager=True)
        spark.catalog.clearCache()  # result must survive cache release
        got = {r.node: round(r.rank, 9) for r in eager.collect()}
        assert got == lazy


class TestContaminationMatrixMultiword:
    """operators/contamination.contamination_matrix: the multi-word
    generalization that CURES the catalog entry's ≤64-source
    contract instead of just asserting it."""

    def test_words1_equals_catalog_entry(self, spark):
        """``words=1`` is the catalog's text_contamination_matrix; on
        the fixture's documents it must equal the brute force."""
        from spark_bi5_datasource_spark.operators.contamination import (
            contamination_matrix,
        )
        from tests.conftest import TESTDATA_SF, has_testdata

        if not has_testdata():
            pytest.skip("no fixture")
        docs = spark.read.parquet(
            os.path.join(TESTDATA_SF, "documents.parquet")
        )
        got = sorted(
            map(tuple, contamination_matrix(docs, words=1).collect())
        )
        rows = [(r.source, r.text) for r in docs.collect()]
        assert got and got == self._brute_force(rows)

    @staticmethod
    def _synthetic_70_sources(spark):
        # 70 sources: s_i holds doc "w{i} w{i+1} w{i+2} w{i+3}" so
        # adjacent sources share exactly one 3-shingle; plus a hub
        # shingle shared by the multiples of 7
        rows = []
        for i in range(70):
            rows.append((f"s{i:02d}", f"w{i} w{i+1} w{i+2} w{i+3}"))
            if i % 7 == 0:
                rows.append((f"s{i:02d}", "hub a b"))
        return spark.createDataFrame(rows, "source string, text string")

    @staticmethod
    def _brute_force(rows, n=3):
        # distinct shingles per source, then all overlapping pairs
        from collections import defaultdict

        sh = defaultdict(set)
        for src, text in rows:
            tk = text.split(" ")
            if len(tk) < n:
                sh[src].add(" ".join(tk))
            else:
                for i in range(len(tk) - n + 1):
                    sh[src].add(" ".join(tk[i : i + n]))
        out = []
        srcs = sorted(sh)
        for i, a in enumerate(srcs):
            for b in srcs[i + 1 :]:
                common = len(sh[a] & sh[b])
                if common:
                    out.append(
                        (a, b, common, len(sh[a]), len(sh[b]),
                         common * 1_000_000 // len(sh[a]),
                         common * 1_000_000 // len(sh[b]))
                    )
        return sorted(out)

    def test_70_sources_two_words_vs_brute_force(self, spark):
        from spark_bi5_datasource_spark.operators.contamination import (
            contamination_matrix,
        )

        docs = self._synthetic_70_sources(spark)
        got = sorted(
            map(tuple, contamination_matrix(docs, words=2).collect())
        )
        rows = [(r.source, r.text) for r in docs.collect()]
        assert got == self._brute_force(rows)

    def test_underprovisioned_words_fails_loudly(self, spark):
        from spark_bi5_datasource_spark.operators.contamination import (
            contamination_matrix,
        )

        docs = self._synthetic_70_sources(spark)
        # depending on AQE stage materialization the USER_RAISED
        # assert surfaces as SparkRuntimeException or wrapped in a
        # multi-failure Py4JJavaError — match the message, not the type
        with pytest.raises(Exception, match="more than 64"):
            contamination_matrix(docs, words=1).collect()


class TestGlobalRunningSum:
    def test_matches_single_partition_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators.ranking import (
            global_running_sum,
        )

        df = spark.range(1003).selectExpr(
            "cast(id * 2654435761 % 997 as long) AS k",
            "cast(id % 13 - 6 as long) AS v",
            "id",
        )
        got = {
            r.id: r.running
            for r in global_running_sum(
                df, ["k", "id"], "v", num_partitions=7
            ).collect()
        }
        w = (
            Window.orderBy("k", "id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        expect = {
            r.id: r.s
            for r in df.withColumn("s", F.sum("v").over(w)).collect()
        }
        assert got == expect


class TestTopKSketch:
    """top_k_sketch (operators/heavy.py): the MG-candidate + exact-
    recount pipeline must equal the exact groupBy top-k on skewed
    data, and honor the frequency guarantee at every width."""

    @pytest.fixture(scope="class")
    def zipfish(self, spark):
        # value v appears ~N/v times: strong skew, long tail
        rows = []
        for v in range(1, 60):
            rows.extend([(f"val_{v:03d}",)] * (1200 // v))
        return spark.createDataFrame(rows, "tok string").repartition(8)

    @pytest.mark.parametrize("width", [64, 256])
    def test_equals_exact_topk(self, spark, zipfish, width):
        from pyspark.sql import Window
        from spark_bi5_datasource_spark.operators.heavy import top_k_sketch

        got = {
            (r.tok, r.cnt, r.rank)
            for r in top_k_sketch(zipfish, "tok", k=10, width=width).collect()
        }
        w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
        expect = {
            (r.tok, r.cnt, r.rank)
            for r in zipfish.groupBy("tok")
            .agg(F.count("*").alias("cnt"))
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 10)
            .collect()
        }
        assert got == expect

    def test_guarantee_survives_tiny_width(self, spark, zipfish):
        # even at an undersized width, any value with global frequency
        # > n/width must be in the result with its EXACT count
        from spark_bi5_datasource_spark.operators.heavy import top_k_sketch

        n = zipfish.count()
        width = 8
        out = {r.tok: r.cnt for r in top_k_sketch(zipfish, "tok", k=60, width=width).collect()}
        exact = {
            r.tok: r.cnt
            for r in zipfish.groupBy("tok").agg(F.count("*").alias("cnt")).collect()
        }
        for tok, cnt in exact.items():
            if cnt > n / width:
                assert out.get(tok) == cnt, tok


class TestJpegCodec:
    """Pure-NumPy baseline JPEG decoder (functions/jpeg_codec.py) and
    the test encoder (tests/media_encoders.py) are independent
    implementations of the wire format (the encoder uses fixed-length
    canonical tables, the decoder handles arbitrary DHT tables), so
    round-trip agreement within the quant step pins both sides."""

    @staticmethod
    def _gradient(h=24, w=40):
        import numpy as np

        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        return np.stack([
            xx * 255 / (w - 1), yy * 255 / (h - 1),
            (xx + yy) * 255 / (w + h - 2),
        ], axis=-1).astype(np.uint8)

    def test_roundtrip_within_quant_step(self):
        import numpy as np

        from spark_bi5_datasource_spark.functions.jpeg_codec import jpeg_decode
        from tests.media_encoders import jpeg_dims, jpeg_encode

        px = self._gradient()
        enc = jpeg_encode(px, quality=95)
        assert jpeg_dims(enc) == (40, 24)
        err = np.abs(jpeg_decode(enc).astype(int) - px.astype(int))
        assert err.max() <= 2 and err.mean() < 0.5

    def test_constant_and_grayscale_exact(self):
        import numpy as np

        from spark_bi5_datasource_spark.functions.jpeg_codec import jpeg_decode
        from tests.media_encoders import jpeg_encode

        c = np.full((16, 16, 3), 77, np.uint8)
        assert (jpeg_decode(jpeg_encode(c, quality=95)) == c).all()
        g = self._gradient()[:, :, :1]
        err = np.abs(jpeg_decode(jpeg_encode(g, quality=95)).astype(int) - g)
        assert err.max() <= 1

    def test_chroma_subsampling_420(self):
        import numpy as np

        from spark_bi5_datasource_spark.functions.jpeg_codec import jpeg_decode
        from tests.media_encoders import jpeg_encode

        px = self._gradient()
        dec = jpeg_decode(jpeg_encode(px, quality=95, subsample=True))
        err = np.abs(dec.astype(int) - px.astype(int))
        assert dec.shape == px.shape and err.max() <= 12 and err.mean() < 4

    def test_restart_markers(self):
        import numpy as np

        from spark_bi5_datasource_spark.functions.jpeg_codec import jpeg_decode
        from tests.media_encoders import jpeg_encode

        px = self._gradient()
        enc = jpeg_encode(px, quality=95, restart_interval=2)
        assert b"\xff\xdd" in enc and b"\xff\xd0" in enc  # DRI + RST0
        err = np.abs(jpeg_decode(enc).astype(int) - px.astype(int))
        assert err.max() <= 2

    def test_multimodal_dispatch(self):
        from spark_bi5_datasource_spark.functions.multimodal import _decode_pixels
        from tests.media_encoders import jpeg_encode

        px = _decode_pixels(jpeg_encode(self._gradient(), quality=95))
        assert px.shape == (24, 40, 3)

    def test_canonical_huffman_matches_spec_assignment(self):
        # the standard luminance-DC table's well-known code assignment
        from spark_bi5_datasource_spark.functions.jpeg_codec import _build_huffman

        bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
        t = _build_huffman(bits, list(range(12)))
        inv = {sym: lc for lc, sym in t.items()}
        assert inv[0] == (2, 0b00)
        assert inv[1] == (3, 0b010)
        assert inv[5] == (3, 0b110)
        assert inv[6] == (4, 0b1110)
        assert inv[11] == (9, 0b111111110)

    def test_progressive_rejected(self):
        import struct

        import pytest

        from spark_bi5_datasource_spark.functions.jpeg_codec import jpeg_decode

        sof2 = struct.pack(">BHHB", 8, 4, 4, 1) + bytes([1, 0x11, 0])
        data = (
            b"\xff\xd8"
            + struct.pack(">BBH", 0xFF, 0xC2, len(sof2) + 2) + sof2
            + b"\xff\xd9"
        )
        with pytest.raises(NotImplementedError, match="baseline"):
            jpeg_decode(data)

    def test_foreign_encoder_files(self):
        """Files produced by real-world encoders (CPython/IPython test
        data, rust docs — present on this image, skipped elsewhere):
        a single bit of Huffman desync would cascade, so clean decode
        to the header dims over thousands of blocks pins the decoder
        against independent producers."""
        import os

        import numpy as np
        import pytest

        candidates = [
            "/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
            "python3.11/test/imghdrdata/python.jpg",
            "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/"
            "share/doc/rust/html/embedded-book/assets/verify.jpeg",
        ]
        found = [p for p in candidates if os.path.isfile(p)]
        if not found:
            pytest.skip("no foreign JPEG fixtures on this image")
        from spark_bi5_datasource_spark.functions.jpeg_codec import jpeg_decode
        from tests.media_encoders import jpeg_dims

        for p in found:
            data = open(p, "rb").read()
            w, h = jpeg_dims(data)
            px = jpeg_decode(data)
            assert px.shape[:2] == (h, w)
            assert np.ptp(px) > 0  # non-degenerate content


class TestGifCodec:
    """Pure-Python GIF/LZW (functions/gif_codec.py).  The decoder's
    code-width schedule is pinned by real-world files (every idlelib
    icon — a single off-by-one in the width bump desyncs the LZW walk
    immediately); the test encoder (tests/media_encoders.py)
    round-trips bit-exact against it."""

    @staticmethod
    def _palette_image(n_colors, h, w, seed=1):
        import numpy as np

        rng = np.random.default_rng(seed)
        pal = np.unique(
            rng.integers(0, 256, (n_colors, 3), dtype=np.uint8), axis=0
        )
        return pal[rng.integers(0, pal.shape[0], (h, w))]

    def test_roundtrip_exact_through_width_growth(self):
        from spark_bi5_datasource_spark.functions.gif_codec import gif_decode
        from tests.media_encoders import gif_encode

        # enough entropy that the LZW dictionary crosses several
        # code-width boundaries
        px = self._palette_image(200, 64, 64)
        assert (gif_decode(gif_encode(px)) == px).all()
        tiny = self._palette_image(2, 9, 7)
        assert (gif_decode(gif_encode(tiny)) == tiny).all()

    def test_interlaced_rows_reordered(self):
        import struct

        import numpy as np

        from spark_bi5_datasource_spark.functions.gif_codec import gif_decode
        from tests.media_encoders import _lzw_encode

        pal = np.array([[i, 0, 0] for i in range(16)], np.uint8)
        h, w = 13, 4
        idx = np.arange(h * w).reshape(h, w) % 16
        # rows serialized in Adam-style pass order, interlace flag set
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        serial = idx[order].astype(np.uint8).reshape(-1)
        out = bytearray(b"GIF89a")
        out += struct.pack("<HHBBB", w, h, 0x80 | 3, 0, 0)
        out += pal.tobytes() + bytes(3 * 16 - pal.size)
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)
        out.append(4)
        blob = _lzw_encode(serial, 4)
        for i in range(0, len(blob), 255):
            chunk = blob[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00\x3b"
        got = gif_decode(bytes(out))
        pal_full = np.vstack([pal, np.zeros((240, 3), np.uint8)])
        assert (got == pal_full[idx]).all()

    def test_real_world_files(self):
        import glob
        import os

        import pytest

        from spark_bi5_datasource_spark.functions.gif_codec import (
            gif_decode, gif_dims,
        )

        icons = sorted(glob.glob(
            "/mnt/sandboxing/model_tools_env/v1/python/install/"
            "lib/python3.11/idlelib/Icons/*.gif"
        ))
        if not icons:
            pytest.skip("no foreign GIF fixtures on this image")
        for p in icons:
            data = open(p, "rb").read()
            w, h = gif_dims(data)
            assert gif_decode(data).shape == (h, w, 3), os.path.basename(p)

    def test_multimodal_dispatch(self):
        from spark_bi5_datasource_spark.functions.multimodal import _decode_pixels
        from tests.media_encoders import gif_encode

        px = self._palette_image(7, 10, 20)
        got = _decode_pixels(gif_encode(px))
        assert (got == px).all()

    def test_unpalettizable_rejected_truncated_tolerated(self):
        import numpy as np
        import pytest

        from spark_bi5_datasource_spark.functions.gif_codec import gif_decode
        from tests.media_encoders import gif_encode

        # 300 guaranteed-distinct 24-bit colors > the 256-entry table
        c = (np.arange(300, dtype=np.int64) * 65539) % (1 << 24)
        many = np.stack(
            [c >> 16, (c >> 8) & 255, c & 255], axis=-1
        ).astype(np.uint8).reshape(20, 15, 3)
        with pytest.raises(NotImplementedError, match="palettizable"):
            gif_encode(many)
        px = self._palette_image(5, 16, 16)
        enc = gif_encode(px)
        got = gif_decode(enc[: len(enc) - 12] + b"\x00\x3b")
        assert got.shape == px.shape  # truncated LZW pads, never throws


class TestApproxQuantiles:
    """The agg_approx_quantiles sketch tier: the catalog entry runs at
    the provably-exact accuracy point (oracle-checked vs DuckDB
    quantile_disc); here the REAL sketch regime (accuracy ≪ n) must
    honor the documented rank-error guarantee ε = 1/accuracy."""

    def test_approx_quantiles_rank_error(self, spark):
        import bisect

        vals = [((i * 7919) % 10_000) / 10.0 for i in range(5_000)]
        df = spark.createDataFrame([(v,) for v in vals], "value double")
        ps = [0.1, 0.5, 0.9]
        accuracy = 100  # sketch regime: rank error up to n/accuracy = 50
        got = df.agg(
            F.percentile_approx("value", ps, accuracy).alias("qs")
        ).collect()[0].qs
        s = sorted(vals)
        n = len(s)
        for p, q in zip(ps, got):
            assert q in vals  # discrete: always a data element
            rank = bisect.bisect_left(s, q)
            assert abs(rank - p * n) <= n / accuracy + 1, (p, q, rank)

    def test_exact_point_matches_sorted_rank(self, spark):
        # at accuracy >= n the sketch degenerates to the exact
        # discrete quantile: smallest element with rank >= ceil(p*n)
        import math

        vals = [float(x) for x in (5, 1, 4, 2, 8, 7, 3, 9, 6, 10)]
        df = spark.createDataFrame([(v,) for v in vals], "value double")
        ps = [0.25, 0.5, 0.75, 0.9]
        got = df.agg(
            F.percentile_approx("value", ps, 1_000_000).alias("qs")
        ).collect()[0].qs
        s = sorted(vals)
        assert got == [s[max(0, math.ceil(p * len(s)) - 1)] for p in ps]


class TestPCA:
    """pca_fit/pca_project (operators/pca.py): the distributed moment
    pass must reproduce local NumPy PCA exactly (same sign
    convention), with descending explained variance."""

    @pytest.fixture(scope="class")
    def vecs(self, spark):
        import numpy as np

        rng = np.random.default_rng(3)
        # anisotropic data so components are well separated
        base = rng.standard_normal((80, 6)) * np.array([5, 3, 2, 1, 0.5, 0.1])
        rows = [(i, [float(x) for x in base[i]]) for i in range(80)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_matches_local_numpy(self, spark, vecs):
        import numpy as np

        from spark_bi5_datasource_spark.operators.pca import (
            pca_fit,
            pca_project,
        )

        mean, comps, ev = pca_fit(vecs, "embedding", m=4)
        local = np.asarray(
            [r.embedding for r in vecs.orderBy("vec_id").collect()]
        )
        lmean = local.mean(0)
        cov = np.cov(local, rowvar=False, bias=True)
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1][:4]
        lcomps = evecs[:, order].T
        for i in range(4):
            j = int(np.argmax(np.abs(lcomps[i])))
            if lcomps[i, j] < 0:
                lcomps[i] = -lcomps[i]
        assert np.allclose(mean, lmean, atol=1e-9)
        assert np.allclose(comps, lcomps, atol=1e-8)
        assert np.all(np.diff(ev) <= 1e-12)  # descending variance

        got = {
            r.vec_id: np.asarray(r.pca)
            for r in pca_project(vecs, mean, comps, "embedding").collect()
        }
        expect = (local - lmean) @ lcomps.T
        for i in range(80):
            assert np.allclose(got[i], expect[i], atol=1e-8)


class TestCdcApply:
    """cdc_apply (operators/upsert.py): latest-wins collapse, delete
    semantics, and replay idempotence."""

    def _target(self, spark):
        return spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )

    def test_insert_update_delete(self, spark):
        from spark_bi5_datasource_spark.operators.upsert import cdc_apply

        changes = spark.createDataFrame(
            [
                (2, "b2", "U", 1),
                (3, None, "D", 1),
                (4, "d", "I", 1),
            ],
            "k long, v string, op string, seq long",
        )
        got = {
            (r.k, r.v)
            for r in cdc_apply(self._target(spark), changes, ["k"]).collect()
        }
        assert got == {(1, "a"), (2, "b2"), (4, "d")}

    def test_latest_wins_and_same_seq_delete_beats_update(self, spark):
        from spark_bi5_datasource_spark.operators.upsert import cdc_apply

        changes = spark.createDataFrame(
            [
                (2, "x1", "U", 1),
                (2, "x2", "U", 2),   # latest U wins over earlier U
                (3, "y", "U", 5),
                (3, None, "D", 5),   # same seq: D beats U
                (1, None, "D", 1),
                (1, "re", "I", 2),   # re-insert after delete
            ],
            "k long, v string, op string, seq long",
        )
        got = {
            (r.k, r.v)
            for r in cdc_apply(self._target(spark), changes, ["k"]).collect()
        }
        assert got == {(1, "re"), (2, "x2")}

    def test_replay_idempotent(self, spark):
        from spark_bi5_datasource_spark.operators.upsert import cdc_apply

        changes = spark.createDataFrame(
            [(2, "b2", "U", 1), (3, None, "D", 1), (4, "d", "I", 1)],
            "k long, v string, op string, seq long",
        )
        once = cdc_apply(self._target(spark), changes, ["k"])
        twice = cdc_apply(once, changes, ["k"])
        assert {tuple(r) for r in once.collect()} == {
            tuple(r) for r in twice.collect()
        }


class TestBloomSemiJoin:
    """bloom_semi_join (operators/bloom.py): exact output, and the
    bloom must actually prune (pre-join survivor count near the true
    selectivity, far under the input size)."""

    def test_exact_and_prunes(self, spark):
        from spark_bi5_datasource_spark.operators.bloom import (
            bloom_semi_join,
        )

        large = spark.range(20_000).selectExpr("id AS k", "id * 2 AS v")
        small = spark.range(0, 20_000, 100).selectExpr("id AS k")  # 1%
        got = {
            (r.k, r.v) for r in bloom_semi_join(large, small, "k").collect()
        }
        expect = {
            (r.k, r.v)
            for r in large.join(small, "k", "left_semi").collect()
        }
        assert got == expect and len(got) == 200

        # measure the pre-join pruning: replay the filter alone
        from spark_bi5_datasource_spark.operators.bloom import _positions
        import pyspark.sql.functions as F

        m = 1 << 20
        pos = _positions(F.col("k"), m, 2)
        words = (
            small.select(F.explode(F.array(*pos)).alias("p"))
            .select((F.col("p") / 64).cast("int").alias("w"),
                    F.expr("shiftleft(1L, cast(p % 64 AS INT))").alias("b"))
            .groupBy("w").agg(F.bit_or("b").alias("bits")).collect()
        )
        arr = [0] * (m // 64)
        for r in words:
            arr[r["w"]] = r["bits"]
        lw = F.lit(arr)

        def hit(p):
            return (F.element_at(lw, (p / 64).cast("int") + 1)
                    .bitwiseAND(F.call_function("shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")))
                    != F.lit(0).cast("long"))

        survivors = large.filter(hit(pos[0]) & hit(pos[1])).count()
        # 200 true + false positives; with m=2^20, k=2, n=200 the FP
        # rate is ~0 — allow generous slack while proving real pruning
        assert 200 <= survivors < 1000


class TestTrainingShards:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [(i, f"doc text {i}") for i in range(200)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_roundtrip_and_determinism(self, spark, docs, tmp_path):
        from spark_bi5_datasource_spark.operators import write_training_shards

        p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
        write_training_shards(docs, p1, "doc_id", 4, salt="a")
        write_training_shards(docs, p2, "doc_id", 4, salt="a")
        r1 = spark.read.parquet(p1)
        # content-preserving: every row survives exactly once
        assert sorted(r.doc_id for r in r1.select("doc_id").collect()) == list(
            range(200)
        )
        # all 4 shard dirs exist and rebuilds are byte-order identical
        import os

        assert sorted(
            d for d in os.listdir(p1) if d.startswith("shard=")
        ) == [f"shard={i}" for i in range(4)]
        for k in range(4):
            a = spark.read.parquet(f"{p1}/shard={k}").select("doc_id").collect()
            b = spark.read.parquet(f"{p2}/shard={k}").select("doc_id").collect()
            assert a == b

    def test_salt_changes_permutation(self, spark, docs):
        from spark_bi5_datasource_spark.operators import assign_training_shards

        a = assign_training_shards(docs, "doc_id", 4, salt="epoch1")
        b = assign_training_shards(docs, "doc_id", 4, salt="epoch2")
        oa = [r.doc_id for r in a.orderBy("shuffle_key").collect()]
        ob = [r.doc_id for r in b.orderBy("shuffle_key").collect()]
        assert oa != ob and sorted(oa) == sorted(ob)
        # hash order decorrelates adjacent ids: the permutation must
        # not be close to the identity
        disp = sum(1 for i, d in enumerate(oa) if d != i)
        assert disp > 150

    def test_invalid_shards_raise(self, spark, docs):
        from spark_bi5_datasource_spark.operators import assign_training_shards

        with pytest.raises(ValueError, match="n_shards"):
            assign_training_shards(docs, "doc_id", 0)


class TestCompaction:
    def test_compacts_small_files_content_preserving(self, spark, tmp_path):
        from spark_bi5_datasource_spark.operators import compact_parquet

        src, dest = str(tmp_path / "small"), str(tmp_path / "big")
        # 64 tiny files
        spark.range(10_000).repartition(64).write.parquet(src)
        import os

        n_in = sum(
            f.endswith(".parquet") for f in os.listdir(src)
        )
        assert n_in == 64
        n_out = compact_parquet(spark, src, dest, target_mb=512)
        assert n_out < 8
        files = [f for f in os.listdir(dest) if f.endswith(".parquet")]
        assert len(files) == n_out
        got = sorted(r.id for r in spark.read.parquet(dest).collect())
        assert got == list(range(10_000))

    def test_clustered_compaction_orders_by_key(self, spark, tmp_path):
        from spark_bi5_datasource_spark.operators import compact_parquet

        src, dest = str(tmp_path / "s"), str(tmp_path / "d")
        spark.range(5_000).repartition(16).write.parquet(src)
        compact_parquet(spark, src, dest, target_mb=512, id_col="id")
        # range-partitioned rewrite: per-file min/max ranges must not
        # overlap (the property parquet scan pruning relies on)
        import os
        import pyarrow.parquet as pq

        ranges = []
        for f in os.listdir(dest):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(dest, f), columns=["id"])
                ids = t["id"].to_pylist()
                if ids:
                    ranges.append((min(ids), max(ids)))
        ranges.sort()
        for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2


class TestBfsDepths:
    """Frontier-expansion BFS semantics on hand-built graphs."""

    def _run(self, spark, edges, sources, **kw):
        from spark_bi5_datasource_spark.operators.bfs import bfs_depths

        e = spark.createDataFrame(edges, "src long, dst long")
        s = spark.createDataFrame([(x,) for x in sources], "node long")
        out = bfs_depths(e, s, **kw)
        return {r.node: r.depth for r in out.collect()}

    def test_chain_depths(self, spark):
        # 1-2-3-4-5 chain from source 1: depth = position
        edges = [(i, i + 1) for i in range(1, 5)]
        got = self._run(spark, edges, [1])
        assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}

    def test_disconnected_unreached(self, spark):
        edges = [(1, 2), (10, 11)]
        got = self._run(spark, edges, [1])
        assert got == {1: 0, 2: 1}  # 10,11 unreachable

    def test_multi_source_min_depth(self, spark):
        # sources at both chain ends: middle node takes the closer one
        edges = [(i, i + 1) for i in range(1, 5)]
        got = self._run(spark, edges, [1, 5])
        assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}

    def test_depth_cap(self, spark):
        edges = [(i, i + 1) for i in range(1, 10)]
        got = self._run(spark, edges, [1], max_depth=3)
        assert max(got.values()) == 3 and len(got) == 4

    def test_directed_vs_undirected(self, spark):
        edges = [(2, 1), (2, 3)]
        undirected = self._run(spark, edges, [1])
        assert undirected == {1: 0, 2: 1, 3: 2}
        directed = self._run(spark, edges, [1], directed=True)
        assert directed == {1: 0}  # no out-edges from 1

    def test_cycle_terminates_first_reach(self, spark):
        # diamond with a shortcut: BFS records the SHORTEST hop count
        edges = [(1, 2), (2, 3), (3, 4), (1, 4)]
        got = self._run(spark, edges, [1])
        assert got == {1: 0, 2: 1, 4: 1, 3: 2}


class TestDeltaAggApply:
    """Counting-algorithm IVM semantics on hand-built views."""

    def _apply(self, spark, mv_rows, delta_rows):
        from spark_bi5_datasource_spark.operators.ivm import delta_agg_apply

        mv = spark.createDataFrame(mv_rows, "k string, cnt long, total long")
        d = spark.createDataFrame(
            delta_rows, "k string, v long, _sign int"
        )
        out = delta_agg_apply(mv, d, keys=["k"], sums={"total": "v"})
        return {r.k: (r.cnt, r.total) for r in out.collect()}

    def test_insert_existing_and_new_group(self, spark):
        got = self._apply(
            spark,
            [("a", 2, 10)],
            [("a", 5, 1), ("b", 7, 1)],
        )
        assert got == {"a": (3, 15), "b": (1, 7)}

    def test_retract_to_zero_drops_group(self, spark):
        got = self._apply(
            spark,
            [("a", 1, 10), ("b", 2, 20)],
            [("a", 10, -1)],
        )
        assert got == {"b": (2, 20)}

    def test_untouched_groups_pass_through(self, spark):
        got = self._apply(spark, [("z", 4, 40)], [("a", 1, 1)])
        assert got["z"] == (4, 40)

    def test_over_retraction_surfaces_negative(self, spark):
        # retracting a never-inserted row is a contract violation the
        # operator surfaces (negative count), never silently clamps
        got = self._apply(spark, [("a", 1, 10)], [("b", 3, -1)])
        assert got["b"] == (-1, -3)


class TestTableDiff:
    """Null-safe snapshot-diff semantics on hand-built tables."""

    def _diff(self, spark, a_rows, b_rows, compare=None):
        from spark_bi5_datasource_spark.operators.diff import table_diff

        schema = "k long, v string, w long"
        a = spark.createDataFrame(a_rows, schema)
        b = spark.createDataFrame(b_rows, schema)
        out = table_diff(a, b, keys=["k"], compare=compare)
        return {(r.k, r.status) for r in out.collect()}

    def test_classifies_added_removed_changed(self, spark):
        got = self._diff(
            spark,
            [(1, "x", 10), (2, "y", 20), (3, "z", 30)],
            [(2, "y", 20), (3, "z", 99), (4, "n", 40)],
        )
        assert got == {(1, "removed"), (3, "changed"), (4, "added")}

    def test_null_to_null_is_unchanged(self, spark):
        got = self._diff(
            spark,
            [(1, None, 10), (2, None, 20)],
            [(1, None, 10), (2, "v", 20)],
        )
        assert got == {(2, "changed")}  # NULL <=> NULL compares equal

    def test_null_to_value_is_changed(self, spark):
        got = self._diff(spark, [(1, "a", None)], [(1, "a", 5)])
        assert got == {(1, "changed")}

    def test_compare_subset_ignores_other_columns(self, spark):
        got = self._diff(
            spark,
            [(1, "a", 10)],
            [(1, "a", 999)],
            compare=["v"],  # w differs but is not compared
        )
        assert got == set()


class TestDeltaDedup:
    """minhash_delta_dedup: increment-vs-corpus near-dedup that never
    pairs the corpus with itself (plans/dedup_ops.py twin)."""

    @pytest.fixture()
    def crawl(self, spark):
        base = (
            "the quick brown fox jumps over the lazy dog while rain"
            " falls on the quiet town"
        )
        other = (
            "spark catalyst optimizes declarative query plans into"
            " distributed physical stages"
        )
        rows = [
            # corpus (ids % 10 != 0)
            (1, base),
            (2, other),
            (3, base),  # corpus-internal dup of 1: must NOT matter
            # increment (ids % 10 == 0)
            (10, base.replace("quiet", "busy")),  # near-dup of corpus 1
            (20, base),  # exact dup of corpus 1
            (30, "completely unrelated words about cooking pasta with"
                 " garlic butter and fresh basil"),
            (40, other),  # exact dup of corpus 2
            # increment-internal dup pair: BOTH survive (delta dedup
            # only checks against the corpus, never increment-self)
            (50, "fresh crawl page about gardening tools and seasonal"
                 " soil preparation for beginners"),
            (60, "fresh crawl page about gardening tools and seasonal"
                 " soil preparation for beginners"),
        ]
        return spark.createDataFrame(rows, "doc_id int, text string")

    def test_drops_corpus_near_dups_keeps_novel(self, spark, crawl):
        from spark_bi5_datasource_spark.operators.dedup import (
            minhash_delta_dedup,
        )

        corpus = crawl.where("doc_id % 10 <> 0")
        increment = crawl.where("doc_id % 10 = 0")
        kept = sorted(
            r.doc_id
            for r in minhash_delta_dedup(
                corpus, increment, "doc_id", "text", threshold=0.4
            ).collect()
        )
        # 10/20/40 collide with corpus; 30 is novel; 50+60 BOTH stay
        assert kept == [30, 50, 60]

    def test_corpus_rows_never_returned(self, spark, crawl):
        from spark_bi5_datasource_spark.operators.dedup import (
            minhash_delta_dedup,
        )

        corpus = crawl.where("doc_id % 10 <> 0")
        increment = crawl.where("doc_id % 10 = 0")
        out = minhash_delta_dedup(
            corpus, increment, "doc_id", "text", threshold=0.4
        )
        assert all(r.doc_id % 10 == 0 for r in out.collect())


class TestAnnRecallMonitor:
    def test_recall_table_shape_and_monotonicity(self, spark):
        """IVF recall must not DECREASE with wider probes (a superset
        of cells can only add candidates), every ppm is in [0, 1e6],
        and all six (tier, param) rows exist even at zero recall."""
        from spark_bi5_datasource_spark.plans.similarity_ops import (
            sim_ann_recall_monitor,
        )

        from tests.conftest import TESTDATA_SF

        rows = sim_ann_recall_monitor(spark, TESTDATA_SF).collect()
        table = {(r.tier, r.param): r.recall_ppm for r in rows}
        assert len(table) == 6
        assert {t for t, _ in table} == {"lsh", "ivf"}
        assert all(0 <= v <= 1_000_000 for v in table.values())
        assert (
            table[("ivf", 1)] <= table[("ivf", 2)] <= table[("ivf", 4)]
        )


class TestStickinessAndEncoding:
    def test_stickiness_invariants(self, spark):
        """DAU <= WAU7 <= MAU28 per day (windows nest), ratio in
        [0, 1e6], and the reported days are exactly the active
        days."""
        from tests.conftest import TESTDATA_SF

        from spark_bi5_datasource_spark.plans.events_ops import (
            events_stickiness_dau_mau,
        )

        rows = events_stickiness_dau_mau(spark, TESTDATA_SF).collect()
        assert rows, "no active days reported"
        for r in rows:
            assert 1 <= r.dau <= r.wau7 <= r.mau28
            assert 0 <= r.stickiness_ppm <= 1_000_000
        ev = spark.read.parquet(f"{TESTDATA_SF}/events.parquet")
        n_days = (
            ev.where("ts IS NOT NULL")
            .selectExpr("CAST(ts AS DATE) AS d")
            .distinct()
            .count()
        )
        assert len(rows) == n_days

    def test_encoding_audit_detects_planted_bytes(self, spark):
        """Non-ASCII, U+FFFD, tabs and newlines planted in a tiny
        frame must be counted exactly."""
        from spark_bi5_datasource_spark.plans.text_ops import text_encoding_audit

        rows = [
            ("a", "plain ascii text"),
            ("a", "café naïve"),          # 2 two-byte chars... é + ï
            ("b", "bad � decode � here"),  # 2 replacement chars
            ("b", "tab\there\nand\nnewlines"),
        ]
        df = spark.createDataFrame(rows, "source string, text string")
        import os
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            df.write.parquet(os.path.join(td, "documents.parquet"))
            out = {
                r.source: r
                for r in text_encoding_audit(spark, td).collect()
            }
        a, b = out["a"], out["b"]
        assert a.docs_nonascii == 1 and a.nonascii_excess_bytes == 2
        assert a.docs_replacement_char == 0
        # U+FFFD is itself non-ASCII (3 UTF-8 bytes -> excess 2 each)
        assert b.docs_replacement_char == 1
        assert b.tab_chars == 1 and b.newline_chars == 2
        assert b.nonascii_docs_ppm == 500_000


class TestBandIndexMaintenance:
    """operators/band_index.py: the stored per-crawl LSH index and its
    MERGE-style maintenance (plans/dedup_ops.py twin)."""

    @pytest.fixture()
    def corpus_frames(self, spark):
        texts = [
            "the quick brown fox jumps over the lazy dog near town",
            "spark catalyst optimizes declarative plans into stages",
            "gardening tools and seasonal soil preparation guide",
            "cooking pasta with garlic butter and fresh basil leaves",
            "distributed shuffle joins keyed on content derived keys",
            "rain falls on the quiet town while the fox sleeps",
        ]
        keep = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts[:4])],
            "doc_id int, text string",
        )
        retire = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(texts[4:])],
            "doc_id int, text string",
        )
        adds = spark.createDataFrame(
            [(200, "brand new crawl page about telescope mirrors"),
             (201, texts[0])],  # re-crawled text, fresh id
            "doc_id int, text string",
        )
        return keep, retire, adds

    def test_merge_equals_fresh_rebuild(self, spark, corpus_frames):
        """merge(index(K ∪ R), added=A, retired=ids(R)) row-equals
        minhash_band_index(K ∪ A) — the maintained index is
        indistinguishable from a fresh rebuild of the live corpus."""
        from spark_bi5_datasource_spark.operators.band_index import (
            merge_band_index,
            minhash_band_index,
        )

        keep, retire, adds = corpus_frames
        merged = merge_band_index(
            minhash_band_index(keep.unionByName(retire), "doc_id", "text"),
            added=adds,
            retired=retire.select("doc_id"),
            id_col="doc_id",
            text_col="text",
        )
        fresh = minhash_band_index(keep.unionByName(adds), "doc_id", "text")
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, fresh.collect())
        )

    def test_merge_is_idempotent_on_replayed_adds(self, spark, corpus_frames):
        """Replaying a crawl's merge (same adds again) must not
        duplicate index rows."""
        from spark_bi5_datasource_spark.operators.band_index import (
            merge_band_index,
            minhash_band_index,
        )

        keep, _retire, adds = corpus_frames
        once = merge_band_index(
            minhash_band_index(keep, "doc_id", "text"),
            added=adds,
            id_col="doc_id",
            text_col="text",
        )
        twice = merge_band_index(
            once, added=adds, id_col="doc_id", text_col="text"
        )
        assert sorted(map(tuple, twice.collect())) == sorted(
            map(tuple, once.collect())
        )

    def test_stored_index_probe_equals_inline(
        self, spark, corpus_frames, tmp_path
    ):
        """Delta dedup probing the written-then-read index returns the
        same survivors as the inline-derived index."""
        from spark_bi5_datasource_spark.operators.band_index import (
            minhash_band_index,
            read_band_index,
            write_band_index,
        )
        from spark_bi5_datasource_spark.operators.dedup import (
            minhash_delta_dedup,
        )

        keep, retire, _adds = corpus_frames
        corpus = keep.unionByName(retire)
        increment = spark.createDataFrame(
            [(300, "the quick brown fox jumps over the lazy dog near city"),
             (301, "entirely novel increment page about sailing knots")],
            "doc_id int, text string",
        )
        path = str(tmp_path / "band_index")
        write_band_index(
            minhash_band_index(corpus, "doc_id", "text"), path
        )
        via_store = minhash_delta_dedup(
            corpus, increment, "doc_id", "text", threshold=0.4,
            corpus_index=read_band_index(spark, path),
        )
        inline = minhash_delta_dedup(
            corpus, increment, "doc_id", "text", threshold=0.4,
        )
        got = sorted(r.doc_id for r in via_store.collect())
        assert got == sorted(r.doc_id for r in inline.collect())
        assert got == [301]  # 300 is a near-dup of corpus doc 0

    @pytest.mark.parametrize(
        "sf_dir",
        ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
         "/root/testdata/sf0.1"],
    )
    def test_merge_entry_cap_nonbinding_at_oracle_scales(
        self, spark, sf_dir
    ):
        """GATE for plans/dedup_ops.dedup_band_index_merge: the
        shipped entry probes with ``max_bucket=200`` while its oracle
        SQL is the exact uncapped twin, so Spark-vs-oracle equality
        holds only while the cap never binds.  The bucket key is an
        xxhash64 minhash slice — not expressible in DuckDB — so the
        cap can't be mirrored in the SQL; instead this test rebuilds
        the entry's EXACT merged index at every fixture scale the
        oracle ever gates (sf0.001/sf0.01 driver + verify, sf0.1
        local verify) and fails loudly if any (band, bucket) key
        exceeds the cap.  Measured max: 3 at sf0.01, 5 at sf0.1
        (r10) — a future fixture regeneration that saturates a
        bucket turns silent divergence into this assertion."""
        if not os.path.isdir(sf_dir):
            pytest.skip(f"no fixture at {sf_dir}")
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators.band_index import (
            merge_band_index,
            minhash_band_index,
        )

        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "text")
        initial = docs.where("doc_id % 10 NOT IN (0, 9)")
        merged = merge_band_index(
            minhash_band_index(
                initial, "doc_id", "text", n=3, num_perm=32, bands=16
            ),
            added=docs.where("doc_id % 10 = 9"),
            retired=initial.where("doc_id % 7 = 3").select("doc_id"),
            id_col="doc_id",
            text_col="text",
            n=3,
            num_perm=32,
            bands=16,
        )
        worst = (
            merged.groupBy("band", "bucket")
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]
        )
        assert worst.mx is not None and worst.mx <= 200, (
            f"max_bucket=200 cap BINDS at {sf_dir} (max bucket"
            f" {worst.mx}): dedup_band_index_merge would silently"
            " diverge from its uncapped oracle — mirror the fixture"
            " change in the entry/oracle before trusting the gate"
        )

    def test_delta_entry_stored_posture_equals_inline(self, spark):
        """POSTURE pin for plans/dedup_ops.dedup_incremental_delta
        (r11 flip): the shipped entry probes the warehouse-persisted
        fingerprint-keyed corpus index; this re-runs the same split
        with the inline-derived index and asserts exact row equality,
        so the storage round-trip (and any stale-fingerprint bug) can
        never drift the timed entry away from the oracle shape."""
        from spark_bi5_datasource_spark.operators.dedup import (
            minhash_delta_dedup,
        )
        from spark_bi5_datasource_spark.plans.dedup_ops import dedup_incremental_delta

        sf = "/root/testdata/sf0.001"
        if not os.path.isdir(sf):
            pytest.skip("no fixture")
        docs = spark.read.parquet(
            os.path.join(sf, "documents.parquet")
        )
        inline = minhash_delta_dedup(
            docs.where("doc_id % 10 <> 0"),
            docs.where("doc_id % 10 = 0"),
            "doc_id",
            "text",
            n=3,
            num_perm=32,
            bands=16,
            threshold=0.5,
        ).select("doc_id", "lang", "source")
        got = sorted(
            map(tuple, dedup_incremental_delta(spark, sf).collect())
        )
        assert got == sorted(map(tuple, inline.collect()))


class TestCorpusBuildProduction:
    """plans/curation_ops.corpus_build_production: the minhash-banded
    corpus build must equal the exact-bar snapshot at every oracle
    fixture scale — the dedup_minhash equality discipline applied to
    the composed pipeline (both entries share stages 3-5 by
    construction; this pins that the banded stage 1+2 drops exactly
    the docs the exact self-join drops, i.e. LSH recall catches every
    fixture loser)."""

    @pytest.mark.parametrize(
        "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    )
    def test_corpus_production_equals_snapshot(self, spark, sf_dir):
        if not os.path.isdir(sf_dir):
            pytest.skip(f"no fixture at {sf_dir}")
        from spark_bi5_datasource_spark.plans.curation_ops import (
            corpus_build_production,
            corpus_build_snapshot,
        )

        exact = sorted(
            map(tuple, corpus_build_snapshot(spark, sf_dir).collect())
        )
        banded = sorted(
            map(tuple, corpus_build_production(spark, sf_dir).collect())
        )
        assert banded == exact


class TestMediaPhashDedup:
    """Perceptual-hash dedup over binary media (plans/dedup_ops.py
    twin): dHash kernel + simhash-band reuse, pinned on images the
    catalog synthesizer did NOT produce."""

    @staticmethod
    def _ppm(gray_rows):
        import numpy as np

        h, w = len(gray_rows), len(gray_rows[0])
        head = b"P6\n%d %d\n255\n" % (w, h)
        px = bytearray()
        for row in gray_rows:
            for g in row:
                px += bytes((g, g, g))
        return head + bytes(px)

    def test_dhash_downsample_and_bits(self):
        """A horizontal gradient has every comparison bit set; the
        18×16 upscale of the same gradient downsamples (pixel-center
        NN) to the identical hash."""
        import numpy as np

        from spark_bi5_datasource_spark.functions.multimodal import (
            _decode_pixels,
            dhash64,
        )

        grad = [[120 - 10 * c for c in range(9)] for _ in range(8)]
        px = _decode_pixels(self._ppm(grad))
        assert dhash64(px) == -1  # all 64 bits set = signed -1
        big = [[120 - 10 * (c // 2) for c in range(18)] for _ in range(16)]
        px_big = _decode_pixels(self._ppm(big))
        assert dhash64(px_big) == -1

    def test_planted_near_dup_pair_and_survivor(self, spark):
        """Two gradients differing in ONE grid cell (hamming ≤ 2) must
        pair; a flat image (hash 0) must survive; min-id wins."""
        from spark_bi5_datasource_spark.functions.multimodal import (
            extract_phash,
        )
        from spark_bi5_datasource_spark.operators.dedup import simhash_pairs

        grad = [[120 - 10 * c for c in range(9)] for _ in range(8)]
        tweak = [row[:] for row in grad]
        tweak[3][4] = 0  # flips at most 2 neighbor comparisons
        flat = [[77] * 9 for _ in range(8)]
        media = spark.createDataFrame(
            [(1, self._ppm(grad)), (2, self._ppm(tweak)),
             (3, self._ppm(flat)), (4, b"\xff\xd8 not really a jpeg")],
            "media_id long, payload binary",
        )
        hashed = extract_phash(media)
        rows = {r.media_id: r.phash for r in hashed.collect()}
        assert rows[4] is None  # dirty payload → null hash, task alive
        pairs = simhash_pairs(
            hashed.where("phash IS NOT NULL"), "media_id",
            max_hamming=3, hash_col="phash",
        ).collect()
        assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}
        losers = {p.id_b for p in pairs}
        assert losers == {2} and 3 not in losers


class TestAudioFingerprintDedup:
    """Audio-fingerprint dedup (plans/dedup_ops.py twin): real WAV
    payloads the catalog synthesizer did NOT produce — different
    sample rates, lengths, and codecs collapsing to one fingerprint."""

    @staticmethod
    def _wav(vals, bits=16, rate=8000):
        import struct

        n = len(vals)
        step = bits // 8
        head = (
            b"RIFF" + struct.pack("<I", 36 + n * step) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * step, step, bits)
            + b"data" + struct.pack("<I", n * step)
        )
        if bits == 16:
            return head + struct.pack(f"<{n}h", *vals)
        return head + bytes(vals)  # 8-bit PCM is unsigned

    def test_rate_length_and_bitdepth_invariance(self, spark):
        """A strictly-descending ramp fingerprints to all-ones (-1);
        its 2× NN-stretch and its 8-bit recode share the hash (rate,
        length and gain invariance); a flat tone (hash 0) survives;
        dirty bytes yield null."""
        from spark_bi5_datasource_spark.functions.multimodal import (
            extract_audio_fingerprint,
        )
        from spark_bi5_datasource_spark.operators.dedup import simhash_pairs

        ramp16 = [32000 - 500 * i for i in range(65)]
        ramp16_stretch = [32000 - 500 * (i // 2) for i in range(130)]
        ramp8 = [200 - 3 * i for i in range(65)]  # same ordering, uint8
        flat = [1000] * 65
        media = spark.createDataFrame(
            [
                (1, self._wav(ramp16)),
                (2, self._wav(ramp16_stretch, rate=16000)),
                (3, self._wav(ramp8, bits=8)),
                (4, self._wav(flat)),
                (5, b"RIFFjunk not a wave"),
            ],
            "media_id long, payload binary",
        )
        rows = {
            r.media_id: r.afp
            for r in extract_audio_fingerprint(media).collect()
        }
        assert rows[1] == -1  # all 64 comparison bits set
        assert rows[2] == -1 and rows[3] == -1
        assert rows[4] == 0
        assert rows[5] is None
        pairs = simhash_pairs(
            extract_audio_fingerprint(media).where("afp IS NOT NULL"),
            "media_id", max_hamming=3, hash_col="afp",
        ).collect()
        assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2), (1, 3), (2, 3)}
        losers = {p.id_b for p in pairs}
        assert losers == {2, 3} and 4 not in losers


class TestBandIndexHealth:
    """band_index_stats + the portable index twin
    (plans/dedup_ops.py dedup_band_index_health)."""

    def test_stats_exact_on_planted_index(self, spark):
        rows = [(i, 0, "a") for i in range(3)] + [
            (3, 0, "b"), (4, 0, "c"),
            (0, 1, "x"), (1, 1, "x"),
        ]
        idx = spark.createDataFrame(
            rows, "doc_id int, band int, bucket string"
        )
        from spark_bi5_datasource_spark.operators.band_index import (
            band_index_stats,
        )

        out = {r.band: r for r in band_index_stats(idx, cap=2).collect()}
        b0, b1 = out[0], out[1]
        assert (b0.n_rows, b0.n_buckets, b0.max_bucket) == (5, 3, 3)
        assert b0.megabuckets == 1  # the size-3 'a' bucket
        assert b0.singleton_ppm == 666_666  # 2 of 3 buckets
        assert (b1.n_rows, b1.n_buckets, b1.max_bucket) == (2, 1, 2)
        assert b1.megabuckets == 0 and b1.singleton_ppm == 0

    def test_bucket_compaction_only_renames(self, spark):
        """Given the SAME signatures, the production xxhash64 bucket
        compaction and the plain concat bucket key yield identical
        per-band bucket-size multisets — the compaction layer only
        renames buckets (the dedup_band_index_health docstring
        claim; the shingle-hash FAMILY, by contrast, legitimately
        shifts which near-dups collide per band)."""
        from pyspark.sql import functions as F

        from spark_bi5_datasource_spark.operators.dedup import (
            _banded,
            minhash_signatures,
        )

        texts = [
            "the quick brown fox jumps over the lazy dog near town",
            "the quick brown fox jumps over the lazy dog near city",
            "spark catalyst optimizes declarative plans into stages",
            "cooking pasta with garlic butter and fresh basil leaves",
            "the quick brown fox jumps over the lazy dog near town",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id int, text string",
        )
        sigs = minhash_signatures(df, "doc_id", "text")
        prod_idx = _banded(sigs, "doc_id", 32, 16)
        concat_idx = sigs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, 15), b -> named_struct("
                    "'band', b, 'bucket',"
                    " concat_ws(',', slice(signature, b * 2 + 1, 2))))"
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket")

        def pops(idx):
            rows = idx.groupBy("band", "bucket").count().collect()
            by_band: dict = {}
            for r in rows:
                by_band.setdefault(r.band, []).append(r["count"])
            return {b: sorted(v) for b, v in by_band.items()}

        assert pops(prod_idx) == pops(concat_idx)


class TestVideoFingerprintDedup:
    """Temporal video dedup (plans/dedup_ops.py twin): AVI synth →
    real container walk → per-frame dHash → per-bit majority, pinned
    on videos the catalog synthesizer did NOT produce."""

    @staticmethod
    def _avi(frame_grids):
        """Uncompressed 24-bit DIB AVI from per-frame gray grids
        (each h rows × w cols, top-down)."""
        import struct

        h, w = len(frame_grids[0]), len(frame_grids[0][0])
        stride = (w * 3 + 3) // 4 * 4

        def chunk(cid, body):
            return cid + struct.pack("<I", len(body)) + body + (
                b"\x00" if len(body) & 1 else b""
            )

        strf = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
            2835, 2835, 0, 0,
        )
        strl = chunk(
            b"LIST",
            b"strl"
            + chunk(b"strh", b"vids" + b"DIB " + b"\x00" * 48)
            + chunk(b"strf", strf),
        )
        avih = struct.pack(
            "<14I", 40000, 0, 0, 0, len(frame_grids), 0, 1, 0, w, h,
            0, 0, 0, 0,
        )
        hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + strl)
        movi = b"movi"
        for grid in frame_grids:
            raster = bytearray(stride * h)
            for r in range(h):
                off = (h - 1 - r) * stride  # bottom-up storage
                for c in range(w):
                    g = grid[r][c]
                    raster[off + 3 * c : off + 3 * c + 3] = (g, g, g)
            movi += chunk(b"00db", bytes(raster))
        body = b"AVI " + hdrl + chunk(b"LIST", movi)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    GRAD = [[120 - 10 * c for c in range(9)] for _ in range(8)]
    FLAT = [[77] * 9 for _ in range(8)]

    def test_vhash_majority_semantics(self):
        """Per-bit majority: 2 of 3 frames win each bit; ties (1 of 2)
        clear the bit; empty input is null."""
        from spark_bi5_datasource_spark.functions.multimodal import vhash64

        assert vhash64([-1, -1, 0]) == -1
        assert vhash64([-1, 0, 0]) == 0
        assert vhash64([-1, 0]) == 0  # strict majority: a 1-1 tie clears
        assert vhash64([5]) == 5
        assert vhash64([]) is None

    def test_sampling_skips_odd_frames_and_tolerates_one_bad_frame(
        self, spark
    ):
        """every_n=2 fingerprints frames 0/2/4 only — garbage in odd
        frames is invisible; one flat frame among the three sampled
        loses every majority vote to the two gradient frames."""
        from spark_bi5_datasource_spark.functions.multimodal import (
            extract_video_fingerprint,
        )

        clean = self._avi([self.GRAD] * 6)
        odd_garbage = self._avi(
            [self.GRAD, self.FLAT, self.GRAD, self.FLAT, self.GRAD,
             self.FLAT]
        )
        one_bad_sampled = self._avi(
            [self.GRAD, self.GRAD, self.GRAD, self.GRAD, self.FLAT,
             self.GRAD]
        )
        media = spark.createDataFrame(
            [(1, clean), (2, odd_garbage), (3, one_bad_sampled)],
            "media_id long, payload binary",
        )
        rows = {
            r.media_id: r.vhash
            for r in extract_video_fingerprint(media).collect()
        }
        assert rows[1] == -1  # full gradient: all 64 bits set
        assert rows[2] == -1  # odd frames never sampled
        assert rows[3] == -1  # majority 2/3 absorbs the flat frame

    def test_planted_near_dup_pair_and_dirty_null(self, spark):
        """Videos differing in one grid cell of every frame pair at
        hamming ≤ 2; a flat video survives; a truncated container
        yields a null hash without killing the task."""
        from spark_bi5_datasource_spark.functions.multimodal import (
            extract_video_fingerprint,
        )
        from spark_bi5_datasource_spark.operators.dedup import simhash_pairs

        tweak = [row[:] for row in self.GRAD]
        tweak[3][4] = 0  # flips ≤ 2 neighbor comparisons per frame
        a = self._avi([self.GRAD] * 6)
        b = self._avi([tweak] * 6)
        c = self._avi([self.FLAT] * 6)
        media = spark.createDataFrame(
            [(1, a), (2, b), (3, c), (4, a[:40])],
            "media_id long, payload binary",
        )
        hashed = extract_video_fingerprint(media)
        rows = {r.media_id: r.vhash for r in hashed.collect()}
        assert rows[4] is None
        pairs = simhash_pairs(
            hashed.where("vhash IS NOT NULL"), "media_id",
            max_hamming=3, hash_col="vhash",
        ).collect()
        assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


class TestIvfIndexMaintenance:
    """operators/ann_index.py: the stored IVF inverted file and its
    MERGE-style maintenance (plans/similarity_ops.py twin)."""

    @pytest.fixture()
    def vec_frames(self, spark):
        import math

        def vec(seed):
            # deterministic unit-ish vectors on a 4-dim ring
            return [
                math.cos(seed * 0.7), math.sin(seed * 0.7),
                math.cos(seed * 1.3), math.sin(seed * 1.3),
            ]

        keep = spark.createDataFrame(
            [(i, vec(i)) for i in range(6)],
            "vec_id long, embedding array<float>",
        )
        retire = spark.createDataFrame(
            [(100 + i, vec(50 + i)) for i in range(3)],
            "vec_id long, embedding array<float>",
        )
        adds = spark.createDataFrame(
            [(200 + i, vec(80 + i)) for i in range(3)],
            "vec_id long, embedding array<float>",
        )
        return keep, retire, adds

    def test_merge_equals_fresh_rebuild(self, spark, vec_frames):
        """merge(build(K ∪ R), added=A, retired=ids(R)) row-equals
        build(K ∪ A) under the same centroids."""
        from spark_bi5_datasource_spark.operators.ann_index import (
            build_ivf_index,
            merge_ivf_index,
        )
        from spark_bi5_datasource_spark.operators.ivf import (
            kmeans_centroids,
        )

        keep, retire, adds = vec_frames
        cents = kmeans_centroids(
            keep.unionByName(retire), "embedding", k=3, iters=2
        )
        merged = merge_ivf_index(
            build_ivf_index(keep.unionByName(retire), cents),
            added=adds,
            retired=retire.select("vec_id"),
            centroids=cents,
        )
        fresh = build_ivf_index(keep.unionByName(adds), cents)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, fresh.collect())
        )

    def test_merge_is_idempotent_on_replayed_adds(self, spark, vec_frames):
        from spark_bi5_datasource_spark.operators.ann_index import (
            build_ivf_index,
            merge_ivf_index,
        )
        from spark_bi5_datasource_spark.operators.ivf import (
            kmeans_centroids,
        )

        keep, _retire, adds = vec_frames
        cents = kmeans_centroids(keep, "embedding", k=2, iters=2)
        once = merge_ivf_index(
            build_ivf_index(keep, cents), added=adds, centroids=cents
        )
        twice = merge_ivf_index(once, added=adds, centroids=cents)
        assert sorted(map(tuple, twice.collect())) == sorted(
            map(tuple, once.collect())
        )

    def test_merge_upsert_replaces_stale_embedding(self, spark, vec_frames):
        """Default (skip) mode keeps the stored embedding for an id
        that reappears in ``added``; upsert=True makes the fresh
        embedding win.  Both idempotent on replay."""
        from spark_bi5_datasource_spark.operators.ann_index import (
            build_ivf_index,
            merge_ivf_index,
        )
        from spark_bi5_datasource_spark.operators.ivf import (
            kmeans_centroids,
        )

        keep, _retire, _adds = vec_frames
        cents = kmeans_centroids(keep, "embedding", k=2, iters=2)
        idx = build_ivf_index(keep, cents)
        some_id = idx.select("nbr_id").first()[0]
        reembed = spark.createDataFrame(
            [(some_id, [9.0, 9.0, 9.0, 9.0])],
            "vec_id long, embedding array<float>",
        )
        skipped = merge_ivf_index(idx, added=reembed, centroids=cents)
        old_vec = [
            r.vec for r in idx.collect() if r.nbr_id == some_id
        ][0]
        got_skip = [
            r.vec for r in skipped.collect() if r.nbr_id == some_id
        ]
        assert got_skip == [old_vec]
        upserted = merge_ivf_index(
            idx, added=reembed, centroids=cents, upsert=True
        )
        got_up = [
            r.vec for r in upserted.collect() if r.nbr_id == some_id
        ]
        assert got_up == [[9.0, 9.0, 9.0, 9.0]]
        assert upserted.count() == idx.count()
        replay = merge_ivf_index(
            upserted, added=reembed, centroids=cents, upsert=True
        )
        assert sorted(map(tuple, replay.collect())) == sorted(
            map(tuple, upserted.collect())
        )

    def test_written_index_dir_is_pure_for_any_reader(
        self, spark, vec_frames, tmp_path
    ):
        """The partitioned index directory contains ONLY index rows —
        centroids live at the sibling ``path.centroids`` — so a
        non-Spark scanner globbing path/** (duckdb read_parquet)
        sees a single clean schema."""
        import duckdb

        from spark_bi5_datasource_spark.operators.ann_index import (
            build_ivf_index,
            write_ivf_index,
        )
        from spark_bi5_datasource_spark.operators.ivf import (
            kmeans_centroids,
        )

        keep, _retire, _adds = vec_frames
        cents = kmeans_centroids(keep, "embedding", k=2, iters=2)
        idx = build_ivf_index(keep, cents)
        path = str(tmp_path / "ivf_pure")
        write_ivf_index(idx, cents, path)
        con = duckdb.connect()
        got = con.sql(
            f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')"
        ).fetchone()[0]
        assert got == idx.count()
        import os as _os

        assert _os.path.isdir(path + ".centroids")

    def test_stored_probe_exact_equals_brute_force(
        self, spark, vec_frames, tmp_path
    ):
        """Probing the written-then-read index with nprobe = nlist
        returns exactly the brute-force cosine top-k, and the stored
        frame row-equals the in-memory one (parquet + partition-column
        round-trip is lossless)."""
        from spark_bi5_datasource_spark.operators.ann_index import (
            build_ivf_index,
            ivf_probe_index,
            read_ivf_index,
            write_ivf_index,
        )
        from spark_bi5_datasource_spark.operators.ivf import (
            kmeans_centroids,
        )
        from spark_bi5_datasource_spark.operators.similarity import (
            cosine_topk,
        )

        keep, retire, _adds = vec_frames
        corpus = keep.unionByName(retire)
        queries = spark.createDataFrame(
            [(900, [1.0, 0.1, -0.2, 0.5]), (901, [-0.4, 0.9, 0.3, -0.1])],
            "vec_id long, embedding array<float>",
        )
        cents = kmeans_centroids(corpus, "embedding", k=3, iters=2)
        idx = build_ivf_index(corpus, cents)
        path = str(tmp_path / "ivf_index")
        write_ivf_index(idx, cents, path)
        stored, stored_cents = read_ivf_index(spark, path)
        assert (stored_cents == cents).all()
        assert sorted(map(tuple, stored.collect())) == sorted(
            map(tuple, idx.collect())
        )
        got = ivf_probe_index(
            stored, stored_cents, queries, k=3, nprobe=3
        )
        brute = cosine_topk(corpus, queries, k=3)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, brute.collect())
        )
