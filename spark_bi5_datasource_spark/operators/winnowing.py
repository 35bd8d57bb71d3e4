"""Winnowing document fingerprints (MOSS-style local fingerprinting).

Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
Fingerprinting" (SIGMOD 2004, public): hash every k-char-gram of a
document, slide a window of w consecutive gram hashes, keep the
minimum of each window, and the distinct kept hashes are the
document's fingerprint set — any shared substring of length
>= w + k - 1 between two documents is GUARANTEED to surface as a
shared fingerprint, while storing only ~2/(w+1) of the gram hashes.
The clone-detection complement of the shingle-based dedup family
(operators/dedup.py): shingles sample the token space, winnowing
samples the raw character stream with a locality guarantee.

Engine-portable hashing: the gram hash is an explicit base-B
polynomial over character CODEPOINTS mod a 31-bit prime, folded
left-to-right with a mod after every step —
``h = fold(c_j: (h * B + c_j) % P)`` — so a SQL twin can reproduce it
bit-for-bit with ``ascii(substr(text, i + j, 1))`` and nested ``%``
(no engine hash function is trusted across engines; same policy as
the polynomial fingerprints in functions/text.py).

Scale shape: the kernel is a pure per-document map (NumPy rolling
hash + sliding-window min, Arrow-batched) behind the row-group
fan-out gate — no shuffle at all until the caller aggregates the
fingerprint sets; at 100 TB the per-doc work partitions linearly and
the output is ~2/(w+1) · grams rows of bounded width.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.text import _fanout

__all__ = ["winnow_fingerprint_stats", "winnow_fingerprints"]


def _batch_winnow(texts, k: int, w: int, base: int, mod: int):
    """Vectorized whole-batch winnowing (r13): one UTF-32 encode of
    the concatenated batch replaces the per-document per-character
    ``map(ord, ...)`` loop, and the k-step rolling-hash fold runs once
    over the concatenated codepoint array with document boundaries
    masked out — identical int64 arithmetic to ``tests/oracles.py``'s
    ``winnow_py``, so the selected fingerprints are bit-identical
    (pinned by test_kernel_matches_reference).

    Input: an iterable of ``str | None`` (one element per document).
    Returns ``(n_grams, fp_doc, fps)``: per-document gram counts
    (int64, len = #docs), and the distinct winnowed fingerprints as
    parallel arrays sorted by (document position in batch, fp)."""
    import numpy as np

    tl = [t if isinstance(t, str) else "" for t in texts]
    m = np.fromiter((len(t) for t in tl), np.int64, count=len(tl))
    n = np.maximum(m - k + 1, 0)  # grams per doc
    empty = (np.empty(0, np.int64), np.empty(0, np.int64))
    if not n.any():
        return n, *empty
    # lone surrogates (impossible via Arrow, possible via
    # createDataFrame) keep their codepoint, matching ord()
    codes = np.frombuffer(
        "".join(tl).encode("utf-32-le", "surrogatepass"), dtype="<u4"
    ).astype(np.int64)
    total_pos = codes.size - k + 1  # >= 1 since some n > 0
    # grouped fold (r13): the int64 modulo is the costly vector op, so
    # fold up to `grp` characters between mods — h*B^s + Σ c_i·B^i
    # stays under 2^63 whenever the guard below holds (codepoints
    # < 0x110000); identical residues, ~1.8x fewer mod passes at the
    # default (k=8, B=131, P=1e9+7 -> grp=3)
    grp = 1
    for s in (2, 3):
        if (mod - 1) * base**s + 0x110000 * sum(
            base**i for i in range(s)
        ) < 2**63:
            grp = s
    h = np.zeros(total_pos, np.int64)
    j = 0
    while j < k:
        s = min(grp, k - j)
        acc = h * (base**s)
        for i in range(s):
            acc += codes[j + i : j + i + total_pos] * (base ** (s - 1 - i))
        h = acc % mod
        j += s
    # per-doc gram hashes, concatenated in batch order: doc d's grams
    # start at its char offset and there are n[d] of them
    sel = np.flatnonzero(n)
    ns = n[sel]
    char_off = np.concatenate(([0], np.cumsum(m)))[:-1]
    gram_off = np.concatenate(([0], np.cumsum(ns)))
    intra = np.arange(gram_off[-1]) - np.repeat(gram_off[:-1], ns)
    g = h[np.repeat(char_off[sel], ns) + intra]
    gdoc = np.repeat(sel, ns)  # original doc index per gram
    # window minima: every in-doc window of w grams, plus the single
    # whole-doc window for docs with 0 < n < w
    parts_d, parts_f = [], []
    if g.size >= w:
        wm = np.lib.stride_tricks.sliding_window_view(g, w).min(axis=1)
        ok = gdoc[: g.size - w + 1] == gdoc[w - 1 :]
        parts_d.append(gdoc[: g.size - w + 1][ok])
        parts_f.append(wm[ok])
    small = ns < w
    if small.any():
        # reduceat over ALL segment starts (consecutive starts bound
        # each doc's grams; the last runs to the end), then keep the
        # small docs' whole-segment minima
        mins = np.minimum.reduceat(g, gram_off[:-1])
        parts_d.append(sel[small])
        parts_f.append(mins[small])
    fp_doc = np.concatenate(parts_d) if parts_d else empty[0]
    fps = np.concatenate(parts_f) if parts_f else empty[1]
    # distinct per doc, ordered (doc-in-batch, fp) — same output
    # order as the per-doc np.unique loop produced.  When fp < 2^31
    # (any mod <= 2^31, incl. the default 1e9+7) pack (doc, fp) into
    # one int64 so a single-key np.unique replaces the two-key
    # lexsort + mask (r13: 0.175 -> 0.031 s on the sf0.1 batch);
    # ascending packed order IS (doc, fp) order, so output rows are
    # bit-identical either way
    if mod <= (1 << 31) and n.size <= (1 << 32):
        packed = np.unique((fp_doc << 31) | fps)
        fp_doc, fps = packed >> 31, packed & ((1 << 31) - 1)
    else:
        order = np.lexsort((fps, fp_doc))
        fp_doc, fps = fp_doc[order], fps[order]
        if fps.size:
            keep = np.ones(fps.size, bool)
            keep[1:] = (fp_doc[1:] != fp_doc[:-1]) | (fps[1:] != fps[:-1])
            fp_doc, fps = fp_doc[keep], fps[keep]
    return n, fp_doc, fps


def winnow_fingerprint_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4,
    base: int = 131, mod: int = 1_000_000_007,
) -> DataFrame:
    """Per-document winnowing fingerprint statistics:
    ``(id, n_grams, n_fp, fp_xor)`` where ``n_fp`` counts the
    distinct winnowed fingerprints and ``fp_xor`` is their bitwise
    XOR — an order-independent set digest that pins the EXACT
    fingerprint set against the SQL twin without materializing the
    per-fingerprint fan-out.  Null/short texts yield
    ``n_grams = 0, n_fp = 0, fp_xor = NULL``."""
    import numpy as np

    out_schema = (
        f"{id_col} long, n_grams long, n_fp long, fp_xor long"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n, fp_doc, fps = _batch_winnow(
                pdf[text_col], k, w, base, mod
            )
            nfp = np.bincount(fp_doc, minlength=n.size).astype(np.int64)
            xor = np.zeros(n.size, np.int64)
            np.bitwise_xor.at(xor, fp_doc, fps)
            xarr = pd.array(xor, dtype="Int64")
            xarr[nfp == 0] = None
            yield pd.DataFrame(
                {
                    id_col: pd.array(pdf[id_col], dtype="Int64"),
                    "n_grams": pd.array(n, dtype="Int64"),
                    "n_fp": pd.array(nfp, dtype="Int64"),
                    "fp_xor": xarr,
                }
            )

    return _fanout(df.select(id_col, text_col)).mapInPandas(
        kernel, out_schema
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4,
    base: int = 131, mod: int = 1_000_000_007,
) -> DataFrame:
    """Exploded per-document fingerprint rows ``(id, fp)`` — one row
    per DISTINCT winnowed fingerprint — for inverted-index consumers
    (near-dup pair detection).  Same selection as
    winnow_fingerprint_stats; documents with no grams emit nothing."""
    out_schema = f"{id_col} long, fp long"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            _, fp_doc, fps = _batch_winnow(pdf[text_col], k, w, base, mod)
            yield pd.DataFrame(
                {
                    id_col: pd.array(
                        pdf[id_col].to_numpy()[fp_doc], dtype="Int64"
                    ),
                    "fp": pd.array(fps, dtype="Int64"),
                }
            )

    return _fanout(df.select(id_col, text_col)).mapInPandas(
        kernel, out_schema
    )
