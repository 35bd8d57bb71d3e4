"""Reference implementations the tests compare the package against.

Each is a slower, independent twin of a package operator: a
pure-Python BPE trainer and encoder, the pure-Catalyst minhash
signature and co-purchase pair expressions the Arrow kernels
replaced, and a pure-Python winnowing fingerprinter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_bi5_datasource_spark.operators.dedup import (
    _MINHASH_P,
    _hashed_shingles,
    _minhash_coeffs,
)


def train_bpe_local(texts: list[str], num_merges: int = 20,
                    min_pair_count: int = 2) -> list[tuple[str, str, int]]:
    """Pure-Python reference trainer (same tokenization, same greedy
    left-to-right merge, same count-desc-then-lexicographic argmax) —
    the pytest oracle for :func:`train_bpe`."""
    import re
    from collections import Counter

    wc: Counter = Counter()
    for t in texts:
        for w in re.split(r"[^a-z]+", t.lower()):
            if w:
                wc[w] += 1
    vocab = {tuple(w): c for w, c in wc.items()}
    out: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pc: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (left, right), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < min_pair_count:
            break
        out.append((left, right, c))
        merged = left + right
        nv = {}
        for syms, cnt in vocab.items():
            acc: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    acc.append(merged)
                    i += 2
                else:
                    acc.append(syms[i])
                    i += 1
            nv[tuple(acc)] = nv.get(tuple(acc), 0) + cnt
        vocab = nv
    return out


def encode_bpe_local(
    texts: list[str], merges: list[tuple[str, str]]
) -> list[list[str]]:
    """Pure-Python reference encoder (same lowest-rank-first merge
    loop) — the pytest oracle for :func:`encode_bpe`."""
    import re

    ranks = {tuple(m): i for i, m in enumerate(merges)}

    def enc_word(w: str) -> list[str]:
        syms = list(w)
        while len(syms) > 1:
            best = min(
                (ranks[p] for p in zip(syms, syms[1:]) if p in ranks),
                default=None,
            )
            if best is None:
                break
            left, right = merges[best]
            acc: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    acc.append(left + right)
                    i += 2
                else:
                    acc.append(syms[i])
                    i += 1
            syms = acc
        return syms

    out = []
    for t in texts:
        toks: list[str] = []
        for w in re.split(r"[^a-z]+", (t or "").lower()):
            if w:
                toks.extend(enc_word(w))
        out.append(toks)
    return out


def _minhash_signatures_expr(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 32,
    out_col: str = "signature",
) -> DataFrame:
    """Pure-Catalyst twin of ``minhash_signatures`` (the pre-r13
    implementation): the parity oracle proving the Arrow kernel's
    values bit-identical, and a fallback for environments without
    NumPy on the workers."""
    a, b = _minhash_coeffs(num_perm)
    a_arr = "array({})".format(",".join(f"{x}L" for x in a))
    b_arr = "array({})".format(",".join(f"{x}L" for x in b))
    hashed = _hashed_shingles(df, text_col, n)
    sig = F.expr(
        f"transform(array(__mh_hs), hs -> "
        f"zip_with({a_arr}, {b_arr}, (a, b) -> "
        f"  array_min(transform(hs, h -> (a * h + b) % {_MINHASH_P}L))))[0]"
    )
    return hashed.withColumn(out_col, sig).drop("__mh_hs")


def _copurchase_pairs_hof(lineitem) -> DataFrame:
    """Pure-Catalyst twin of ``_copurchase_pairs`` (the pre-r13
    unfold): the parity oracle for the Arrow kernel, and a fallback
    for environments without NumPy on the workers."""
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.expr("sort_array(collect_set(l_partkey))").alias("parts"))
        .where(F.expr("size(parts) >= 2"))
    )
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts)),"
                " y -> struct(x AS u, y AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")


def winnow_py(
    text: str, k: int = 8, w: int = 4, base: int = 131,
    mod: int = 1_000_000_007,
) -> list[int]:
    """Pure-Python reference (test oracle): sorted distinct winnowed
    fingerprints of ``text``.  Documents with fewer than ``w`` gram
    hashes contribute one window spanning all grams."""
    m = len(text)
    n = m - k + 1
    if n <= 0:
        return []
    hs = []
    for i in range(n):
        h = 0
        for j in range(k):
            h = (h * base + ord(text[i + j])) % mod
        hs.append(h)
    if n < w:
        return [min(hs)]
    return sorted({min(hs[p : p + w]) for p in range(n - w + 1)})
