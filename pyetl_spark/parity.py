"""Cross-engine float determinism helpers (SURVEY.md §5.3, hardened).

Why native ``round`` is banned here: Spark rounds HALF_UP on the double's
*shortest decimal repr* (BigDecimal.valueOf), DuckDB rounds the *binary*
value — they disagree exactly on decimal ties (X.XX5), which money grids hit
constantly (2dp×2dp products have 4dp grids → ~1% of values are 2dp-ties).
Observed: 37704.575 → Spark 37704.58, DuckDB 37704.57.

Two tools, both computed by the *same IEEE-754 ops on both engines*, so
outputs are bit-identical whenever inputs are bit-identical:

- ``rnd`` / ``R``: sign(x)*floor(abs(x)*10^n + 0.5)/10^n — deterministic
  round-half-away-from-zero.
- ``fxp`` / ``FXP``: the same, kept as a BIGINT — fixed-point. Aggregate
  *sums of money must go through fxp*: summing doubles is order-dependent
  (Spark partial aggs per partition vs DuckDB per thread), and when the true
  sum sits on a rounding tie the two engines land on opposite sides. Integer
  sums are exact and order-free; descale once after aggregation.

Both engines then compute floor on the same bits and divide the same integer
by the same power of ten → identical doubles out.

Vector reductions follow one rule: a zero-seeded, ascending left fold
(Spark ``aggregate`` with a 0.0 seed; DuckDB ``list_reduce`` over a
``list_prepend``-ed double zero). The same adds in the same order give the
same bits on both engines, so the fold kernels below — ``dot``,
``norm_sq``, ``sq_dist``, ``cosine`` and ``ordered_sum`` — are the only
place that rule is written down. They never cast: a caller folding float32
values casts the list to double first, or DuckDB multiplies in FLOAT.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _p(n: int) -> float:
    return float(10**n)


def rnd(c: Column, n: int = 2) -> Column:
    """Deterministic half-away-from-zero round to n decimal places."""
    p = F.lit(_p(n))
    return F.signum(c) * F.floor(F.abs(c) * p + F.lit(0.5)) / p


def R(expr: str, n: int = 2) -> str:
    """DuckDB SQL twin of ``rnd`` (inline expression, parenthesized)."""
    p = f"{_p(n):.1f}"
    return f"(sign({expr}) * floor(abs({expr}) * {p} + 0.5) / {p})"


def fxp(c: Column, scale: int) -> Column:
    """Exact fixed-point integer: round(x*scale) as BIGINT.

    ``scale`` = 10^(decimal places of the term's value grid); e.g. 10**4 for
    price(2dp) * (1-discount)(2dp) products.
    """
    s = F.lit(float(scale))
    return (F.signum(c) * F.floor(F.abs(c) * s + F.lit(0.5))).cast("long")


def FXP(expr: str, scale: int) -> str:
    """DuckDB SQL twin of ``fxp``."""
    return (
        f"CAST(sign({expr}) * floor(abs({expr}) * {float(scale):.1f} + 0.5)"
        " AS BIGINT)"
    )


def msum(c: Column, scale: int, out_dp: int = 2) -> Column:
    """Order-free money sum: exact integer sum, descale, round."""
    total = F.sum(fxp(c, scale)).cast("double") / F.lit(float(scale))
    return rnd(total, out_dp)


def MSUM(expr: str, scale: int, out_dp: int = 2) -> str:
    """DuckDB SQL twin of ``msum``."""
    total = f"CAST(sum({FXP(expr, scale)}) AS DOUBLE) / {float(scale):.1f}"
    return R(total, out_dp)


def mavg(c: Column, scale: int, out_dp: int = 4) -> Column:
    """Order-free mean built on the exact integer sum."""
    total = F.sum(fxp(c, scale)).cast("double") / F.lit(float(scale))
    return rnd(total / F.count(F.lit(1)), out_dp)


def MAVG(expr: str, scale: int, out_dp: int = 4) -> str:
    """DuckDB SQL twin of ``mavg``."""
    total = f"CAST(sum({FXP(expr, scale)}) AS DOUBLE) / {float(scale):.1f}"
    return R(f"{total} / count(*)", out_dp)


#: Grid size of the portable 60-bit hash: values are uniform on
#: [0, 2^60), so u = (h + 1) / 2^60 maps them onto (0, 1].
PHASH60_GRID = float(1 << 60)


def phash60(c: Column) -> Column:
    """Cross-engine uniform 60-bit hash: first 15 md5 hex chars as BIGINT.

    The sketch-parity sibling of ``rnd``/``fxp``: ``xxhash64`` is
    Spark-only, so any key whose *evidence* must hash-match a DuckDB
    oracle hashes through this instead (md5 is bit-identical on both
    engines; 15 hex chars = 60 bits keeps the value positive in a signed
    64-bit lane on both). Input is stringified first so integer keys
    format identically ('123') on both engines."""
    return F.conv(
        F.substring(F.md5(c.cast("string")), 1, 15), 16, 10
    ).cast("long")


def PHASH60(expr: str) -> str:
    """DuckDB SQL twin of ``phash60``."""
    return (
        f"CAST('0x' || substring(md5(CAST({expr} AS VARCHAR)), 1, 15)"
        " AS BIGINT)"
    )


def phash60_seeded(seed: Column, c: Column) -> Column:
    """Seeded ``phash60``: hash of 'seed|value' — the cross-engine
    stand-in for xxhash64(seed, col) in sketch families (CMS, MinHash
    permutations) whose evidence must replay on DuckDB."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("|", seed.cast("string"), c.cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def PHASH60_SEEDED(seed: str, expr: str) -> str:
    """DuckDB SQL twin of ``phash60_seeded``."""
    inner = f"CAST({seed} AS VARCHAR) || '|' || CAST({expr} AS VARCHAR)"
    return f"CAST('0x' || substring(md5({inner}), 1, 15) AS BIGINT)"


def _fold(arr: Column) -> Column:
    """Zero-seeded ascending left fold of a double array."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _FOLD(list_sql: str) -> str:
    """DuckDB SQL twin of ``_fold``."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), {list_sql}),"
        " (fa, fx) -> fa + fx)"
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product: the fold of a_i·b_i."""
    return _fold(F.zip_with(a, b, lambda x, y: x * y))


def DOT(a: str, b: str) -> str:
    """DuckDB SQL twin of ``dot``."""
    return _FOLD(
        f"list_transform(generate_series(1, len({a})),"
        f" fi -> ({a})[fi] * ({b})[fi])"
    )


def norm_sq(a: Column) -> Column:
    """Squared L2 norm: the fold of a_i²."""
    return _fold(F.transform(a, lambda x: x * x))


def NORM_SQ(a: str) -> str:
    """DuckDB SQL twin of ``norm_sq``."""
    return _FOLD(f"list_transform({a}, fx -> fx * fx)")


def sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance: the fold of (a_i − b_i)²."""
    return _fold(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def SQ_DIST(a: str, b: str) -> str:
    """DuckDB SQL twin of ``sq_dist``."""
    d = f"(({a})[fi] - ({b})[fi])"
    return _FOLD(
        f"list_transform(generate_series(1, len({a})), fi -> {d} * {d})"
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity as dot(a,b) / sqrt(norm_sq(a)) / sqrt(norm_sq(b))
    — this op order, not dot / (|a|·|b|), is the one both engines run."""
    return dot(a, b) / F.sqrt(norm_sq(a)) / F.sqrt(norm_sq(b))


def COSINE(a: str, b: str) -> str:
    """DuckDB SQL twin of ``cosine``."""
    return f"({DOT(a, b)} / sqrt({NORM_SQ(a)}) / sqrt({NORM_SQ(b)}))"


def ordered_sum(value: str, *order: str) -> Column:
    """Aggregate: the group's ``value`` column folded in ascending
    ``order`` — a float sum whose bits do not depend on partitioning
    (``F.sum`` adds in whatever order partial aggregates arrive).
    ``order`` must be unique within a group."""
    rows = F.array_sort(F.collect_list(F.struct(*order, value)))
    return _fold(F.transform(rows, lambda s: s.getField(value)))


def ORDERED_SUM(value: str, *order: str) -> str:
    """DuckDB SQL twin of ``ordered_sum``."""
    return _FOLD(f"list({value} ORDER BY {', '.join(order)})")
