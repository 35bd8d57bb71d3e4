"""Winnowing fingerprints: kernel vs pure-Python reference, and the
paper's locality guarantee (any shared substring of length
>= w + k - 1 yields a shared fingerprint)."""
from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_bi5_datasource_spark.operators.winnowing import winnow_fingerprint_stats
from tests.oracles import winnow_py

K, W = 8, 4


class TestWinnowPy:
    def test_short_doc_single_window(self):
        # len 9 -> 2 grams (< w): one window over all grams
        fps = winnow_py("abcdefghi", K, W)
        assert len(fps) == 1

    def test_too_short_empty(self):
        assert winnow_py("abcdefg", K, W) == []
        assert winnow_py("", K, W) == []

    @given(st.text(alphabet="ab .", min_size=0, max_size=200))
    @settings(max_examples=200, deadline=None)
    def test_guarantee_matches_brute(self, s):
        """Every fingerprint is a gram hash, and the fingerprint count
        is within the winnowing density bound."""
        fps = winnow_py(s, K, W)
        n = len(s) - K + 1
        if n <= 0:
            assert fps == []
            return
        # brute gram hashes
        hs = set()
        for i in range(n):
            h = 0
            for j in range(K):
                h = (h * 131 + ord(s[i + j])) % 1_000_000_007
            hs.add(h)
        assert set(fps) <= hs
        assert 1 <= len(fps) <= max(n - W + 1, 1)

    def test_shared_substring_shares_fingerprint(self):
        """Locality guarantee: two docs sharing a substring of length
        >= w + k - 1 = 11 share at least one fingerprint."""
        rng = random.Random(7)
        alpha = "abcdefghij "
        needle = "".join(rng.choice(alpha) for _ in range(11))
        for trial in range(20):
            a = "".join(rng.choice(alpha) for _ in range(50))
            b = "".join(rng.choice(alpha) for _ in range(50))
            da, db = a + needle + a, b + needle + b
            assert set(winnow_py(da, K, W)) & set(winnow_py(db, K, W))


class TestWinnowKernel:
    def test_kernel_matches_reference(self, spark):
        rng = random.Random(11)
        alpha = "abcdefghijklmnop .!?"
        rows = [
            (i, "".join(rng.choice(alpha) for _ in range(rng.randint(0, 60))))
            for i in range(40)
        ]
        rows.append((100, None))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_grams"], r["n_fp"], r["fp_xor"])
            for r in winnow_fingerprint_stats(df, "doc_id", "text").collect()
        }
        assert len(got) == len(rows)
        for did, text in rows:
            fps = winnow_py(text, K, W) if text else []
            n = max(len(text) - K + 1, 0) if text else 0
            want_xor = None
            if fps:
                x = 0
                for f in fps:
                    x ^= f
                want_xor = x
            assert got[did] == (n, len(fps), want_xor), did


class TestBatchWinnowPaths:
    """r13 kernel internals: the grouped modular fold and the
    packed-key dedup, including the lexsort fallback taken when the
    modulus exceeds the 31-bit packing bound."""

    def _reference(self, texts, k, w, base, mod):
        out = []
        for i, s in enumerate(texts):
            for fp in winnow_py(s or "", k, w, base, mod):
                out.append((i, fp))
        return out

    @pytest.mark.parametrize(
        "k,base,mod",
        [
            (8, 131, 1_000_000_007),  # default: grouped fold + packed path
            (7, 131, 1_000_000_007),  # k not divisible by the group size
            (8, 131, (1 << 31) + 11),  # > 2^31: lexsort fallback path
            (5, 1 << 20, (1 << 42) + 1),  # big base+mod: group size 1
        ],
    )
    def test_batch_winnow_matches_reference(self, k, base, mod):
        from spark_bi5_datasource_spark.operators.winnowing import (
            _batch_winnow,
        )

        rng = random.Random(23)
        alpha = "abcdefghij .?"
        texts = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80)))
            for _ in range(60)
        ]
        texts += [None, "", "abc", "aaaaaaaaaaaaaaaa"]
        n, fp_doc, fps = _batch_winnow(texts, k, 4, base, mod)
        got = list(zip(fp_doc.tolist(), fps.tolist()))
        assert got == self._reference(texts, k, 4, base, mod)
        assert n.tolist() == [
            max(len(t or "") - k + 1, 0) for t in texts
        ]
