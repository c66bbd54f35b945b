"""Shared expression helpers enforcing cross-engine numeric determinism.

Double summation is not associative; Spark and DuckDB reduce partitions
in different orders, so ``SUM(double)`` over 60k rows differs in the
last few ulps between engines — enough to break a value-hash compare.
The fix used across the engine: aggregate in DECIMAL (exact, order
independent), then cast the final scalar back to double (one
deterministic rounding). Mirrored fragments are provided for the DuckDB
oracle SQL so both engines compute bit-identical results.

Scale notes: decimal aggregation is marginally slower than double in
Tungsten but stays inside whole-stage codegen and partial aggregation
(map-side combine) — no extra shuffle, still exact at any row count
(DECIMAL(18,4) sums promote to DECIMAL(28,4) giving 10^24 headroom).

The text rules that several operator modules share live here too:
:func:`word_ngrams` (the token windows every shingle, k-gram and
n-gram operator is built on) and :func:`near_copies` (the near-copy
fixture of the dedup tiers, their streaming twin and the decontamination
checks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,4)"


def dsum(col: str | Column) -> Column:
    """Order-independent SUM over a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: str | Column) -> Column:
    """Order-independent AVG: exact decimal sum, then one double divide."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def o_dsum(expr: str) -> str:
    """DuckDB fragment mirroring :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,4))) AS DOUBLE)"


def o_davg(expr: str) -> str:
    """DuckDB fragment mirroring :func:`davg`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,4))) AS DOUBLE) / COUNT({expr})"


def slong(col: str | Column, scale: int) -> Column:
    """Exact scaled-long of a fixed-decimal double column.

    The fast exact-sum path: a k-decimal value times 10^k is an exact
    integer, so SUM runs in codegen-friendly longs (~2x faster than the
    object-backed wide-decimal accumulator) and stays order
    independent. Use when the value domain bounds the sum well inside
    int64 (document the bound at the call site); the DECIMAL helpers
    above are the unbounded fallback.
    """
    c = F.col(col) if isinstance(col, str) else col
    # signum * floor(|x|+0.5), not round(): Spark's round on double goes
    # through a per-row BigDecimal (~3x slower); this stays in primitive
    # codegen. The signum branch makes it half-AWAY-FROM-ZERO for both
    # signs — exactly DuckDB's round() — so negative inputs (ln terms,
    # KL summands) are covered too, not just the non-negative domain.
    # Off a .5 tie it equals plain floor(x+0.5) for every sign.
    return (F.signum(c) * F.floor(F.abs(c) * (10**scale) + F.lit(0.5))).cast(
        "long"
    )


MONEY = "decimal(12,2)"  # raw money-like columns are exact 2-decimal values


def fmt_ts(col: str | Column) -> Column:
    """Format a timestamp to second precision (safe for ns-typed cols)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


def o_fmt_ts(expr: str) -> str:
    """DuckDB fragment mirroring :func:`fmt_ts`."""
    return f"strftime({expr}, '%Y-%m-%d %H:%M:%S')"


_HEXDIGITS = "0123456789abcdef"


def md5_16bit(col: Column) -> Column:
    """First 4 hex chars of md5(col) as an int in [0, 65536) — an
    engine-portable 16-bit hash (DuckDB twin: :func:`o_md5_16bit`)."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long")


def o_md5_16bit(arg_sql: str) -> str:
    """DuckDB fragment mirroring :func:`md5_16bit` (hex-digit fold —
    DuckDB has no hex->int cast)."""
    return "(" + " + ".join(
        f"(strpos('{_HEXDIGITS}', substr(md5({arg_sql}), {i + 1}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    ) + ")"


def md5_32bit(col: Column) -> Column:
    """First 8 hex chars of md5(col) as an int in [0, 2^32) — the
    wider twin of :func:`md5_16bit` for structures whose index space
    outgrows 16 bits (e.g. adaptive Bloom bit arrays)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def o_md5_32bit(arg_sql: str) -> str:
    """DuckDB fragment mirroring :func:`md5_32bit`."""
    return "(" + " + ".join(
        f"(strpos('{_HEXDIGITS}', substr(md5({arg_sql}), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ) + ")"


def fround(col: str | Column, scale: int = 6) -> Column:
    """Float-path deterministic round — use on values that can land ON
    a decimal rounding boundary (e.g. dyadic folds of 2-decimal
    inputs: EWMA with a=0.5 produces exact multiples of 0.01/2^k).

    Spark's ``F.round(double, n)`` routes through BigDecimal's
    SHORTEST-STRING representation with HALF_UP — on a value whose
    shortest repr ends in '5' at position n+1 it rounds UP even when
    the binary double sits just below the tie, while DuckDB rounds the
    binary value itself (std::round of x*10^n): found live at sf0.1 by
    q_stream_ewma (32.6353125 -> Spark 32.635313, DuckDB 32.635312).
    This helper reproduces DuckDB's float path exactly —
    sign * floor(|x| * 10^n + 0.5) / 10^n, every step correctly
    rounded IEEE on identical inputs — so the engines agree on ties
    by construction. (The pandas-side twin is the holt ``rnd()``.)
    For organic float noise that never lands on an exact tie,
    ``F.round`` remains fine and is used throughout.
    """
    c = F.col(col) if isinstance(col, str) else col
    p = float(10**scale)
    return (
        F.signum(c) * F.floor(F.abs(c) * p + F.lit(0.5)) / p
    ).cast("double")


def word_ngrams(tokens: str | Column, n: int) -> Column:
    """The n-token windows of a token array, each joined by ``" "``, in
    position order with duplicates kept; ``[]`` for fewer than ``n``
    tokens and for a NULL array. ``n`` >= 1.

    Pass a named column, not an inline ``split(...)``: the window lambda
    reads ``tokens`` once per window, outside codegen subexpression
    elimination. The size guard is in the expression, not left to a
    filter before it: Spark's ``sequence(1, m)`` counts DOWN for m < 1,
    so ``slice`` would get index 0 and throw, and the optimizer may
    evaluate a projection on rows an earlier filter excludes (it pushes
    projections through a Union). ``when`` evaluates its branch only
    for rows that pass the guard.
    """
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_bigrams(tokens: str | Column) -> Column:
    """The adjacent token pairs of a token array as ``struct(w1, w2)``,
    in position order with duplicates kept, without the pairs that have
    an empty token (``"a  b"`` gives none); ``[]`` for fewer than 2
    tokens and for a NULL array. The size guard sits in the expression
    for the reason :func:`word_ngrams` gives.
    """
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.when(
        F.size(t) >= 2,
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(t[i - 1].alias("w1"), t[i].alias("w2")),
            ),
            lambda s: (s["w1"] != "") & (s["w2"] != ""),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


# Near copies of a document start at this id offset (augmented corpus,
# streamed document split).
AUG_OFFSET = 1_000_000


def near_copies(docs: DataFrame, offset: int, *carry: str | Column) -> DataFrame:
    """The near copy of every document of ``docs`` with >= 2 tokens:
    ``doc_id + offset`` and the text without its last space-separated
    token, plus the ``carry`` columns.

    Single-token documents get no copy: the DuckDB oracles spell the
    rule with ``list_slice(l, 1, 0)``, which is NULL there where Spark's
    ``slice`` gives ``[]``.
    """
    t = F.split("text", " ")
    return docs.filter(F.size(t) >= 2).select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.array_join(F.slice(t, 1, F.size(t) - 1), " ").alias("text"),
        *carry,
    )
