"""Spark-side rewrite of the scaled-BIGINT money idiom.

The catalog's exactness convention sums money as integer cents:
``CAST(round(x * 10^d) AS BIGINT)``.  DuckDB's ``round`` is a native
vectorized half-away-from-zero.  Spark's ``round`` on DOUBLE, however,
allocates a ``java.math.BigDecimal`` per row (``Round`` falls back to
``BigDecimal.valueOf(x).setScale(0, HALF_UP)``), which dominates wide
scans: on the 60 M-row x100 lineitem, ``sum(CAST(round(...)))`` costs
0.65 s vs 0.18 s for the arithmetically identical half-adjust cast
— `round()` alone was ~27 % of TPC-H q8's
wall clock.

``spark_fast_sql`` rewrites exactly that idiom in a SQL string:

    CAST(round(E) AS BIGINT)
      -> CAST((E) + CASE WHEN (E) >= 0 THEN 0.5D ELSE -0.5D END AS BIGINT)

``CAST(double AS BIGINT)`` truncates toward zero, so the half-adjust
is half-AWAY-FROM-ZERO — the same convention as DuckDB's ``round`` and
value-identical on every tested scale factor (the relational tier's
``_dsum`` has shipped this exact substitution driver-green since round
1; the oracle keeps ``round()``).  Unlike ``round``, the rewrite is
pure IEEE arithmetic, so both engines evaluate bit-identical doubles
before the truncation — it *removes* a cross-engine rounding-boundary
class rather than adding one.

Only the full ``CAST(round(E) AS BIGINT)`` unit is rewritten — a
balanced-paren scan, single-argument rounds only.  Two-arg display
rounds (``round(x, 6)``) and bare ``round(E)`` outside a truncating
cast keep Spark's ``round`` (they are O(groups), not O(rows)).
"""

from __future__ import annotations

__all__ = ["spark_fast_sql", "HALF_ADJUST_CENTS"]

# DF-side twin of the rewrite, for F.expr in hot paths (format with
# x=<expr>, m=<scale multiplier>)
HALF_ADJUST_CENTS = (
    "CAST(({x}) * {m} + CASE WHEN ({x}) >= 0 THEN 0.5D ELSE -0.5D END"
    " AS BIGINT)"
)

_NEEDLE = "CAST(round("


def _matching_paren(s: str, open_idx: int) -> int:
    """Index of the ``)`` closing the ``(`` at ``open_idx``; -1 if
    unbalanced."""
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return -1


def _top_level_comma(s: str) -> bool:
    depth = 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            return True
    return False


def spark_fast_sql(sql: str) -> str:
    """Rewrite every ``CAST(round(E) AS BIGINT)`` in ``sql`` to the
    codegen-resident half-adjust cast.  Anything not matching the full
    idiom (two-arg round, different cast target) is left untouched.
    Iterates to a fixpoint so nested occurrences (an idiom inside
    another's ``E``) are all rewritten."""
    while True:
        out = []
        pos = 0
        changed = False
        while True:
            hit = sql.find(_NEEDLE, pos)
            if hit < 0:
                out.append(sql[pos:])
                break
            round_open = hit + len(_NEEDLE) - 1  # the "(" of round(
            close = _matching_paren(sql, round_open)
            tail = " AS BIGINT)"
            expr = sql[round_open + 1 : close] if close > 0 else ""
            if (
                close < 0
                or _top_level_comma(expr)
                or sql[close + 1 : close + 1 + len(tail)] != tail
            ):
                # not the idiom: emit through the needle, keep scanning
                out.append(sql[pos : hit + len(_NEEDLE)])
                pos = hit + len(_NEEDLE)
                continue
            out.append(sql[pos:hit])
            out.append(
                f"CAST(({expr}) + CASE WHEN ({expr}) >= 0 THEN 0.5D"
                f" ELSE -0.5D END AS BIGINT)"
            )
            pos = close + 1 + len(tail)
            changed = True
        sql = "".join(out)
        if not changed:
            return sql
